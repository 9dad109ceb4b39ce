package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftExtensions, GraftTmp, JsonOut, SparkEntry}

/** One benchmark run in a fresh JVM: set up the session, run one cold
  * pass and then a fixed number of warm passes over the workload's calls.
  * The cold pass doubles as the output check: each result goes to a
  * verification sink (a single-file parquet dump for queries with oracle
  * SQL, laid out as graft.Verify lays it out; a content hash for the
  * rest) instead of the `noop` sink the warm passes use, so no call runs
  * a third time. Everything measured is written as
  * one JSON document; the launcher (`run.py`) turns it into metrics and
  * checks the verification results.
  *
  * Pass 0 is the cold pass and pass 1 an unmeasured settling pass; the
  * passes after them are the measured warm passes.
  *
  * Arguments (all `--key value`): seed, passes, trace (0|1), cpus, data
  * (table dir), calls (comma list), work (run dir), verify (dump dir),
  * out; for the lake call also corpus (MicMac batches), lake-rows (rows
  * the import must leave) and lake-tree (the tree to snapshot).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val measured = opt("passes").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val dataDir = opt("data")
    val work = opt("work")
    val callNames = opt("calls").split(",").toSeq.filter(_.nonEmpty)

    // the session confs of graft.Bench, shuffle files kept in the run
    // directory, and the extensions installed the way GraftExtensions
    // documents; the run record lists them
    val confs = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation" -> "0",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> GraftTmp.dir("warehouse_bench"),
      "spark.local.dir" -> s"$work/spark-local")
    val spark = confs.foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v) }.withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // the same warm-up graft.Bench does before its first timed query
    spark.range(1000).selectExpr("sum(id)").count()
    SparkEntry.queries.get("q_scan_pruned_count")
      .foreach(fn => try fn(spark, dataDir).count() catch { case _: Throwable => })
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val lake = opt.get("corpus").map(c => new Lake(spark, c, s"$work/lake", cpus,
      opt("lake-rows").toLong, opt("lake-tree")))
    val calls = callNames.map { name =>
      name -> (if (name == Lake.CallName) () => lake.get.run() else {
        val fn = SparkEntry.queries.getOrElse(name,
          throw new IllegalArgumentException(s"unknown call $name"))
        () => fn(spark, dataDir)
      })
    }

    val tracer = new Tracer(cpus)
    val records = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    val verdicts = mutable.ArrayBuffer.empty[String]

    val verifyDir = opt("verify")
    def noopSink(name: String, df: DataFrame): Seq[(String, String)] = {
      df.write.mode("overwrite").format("noop").save()
      Nil
    }
    def verifySink(name: String, df: DataFrame): Seq[(String, String)] =
      if (SparkEntry.oracleSql.contains(name)) {
        // one part file, as graft.Verify writes it, so the file keeps
        // the result's row order for tools/oracle_check.py
        df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$name")
        Seq("mode" -> Json.str("oracle"))
      } else Seq("mode" -> Json.str("hash"),
        "hash" -> Json.str(Canon.hash(df.collect())))

    def runPass(idx: Int, traced: Boolean, settle: Boolean = false): Unit = {
      val sink = if (idx == 0) verifySink _ else noopSink _
      if (traced) tracer.attach(spark) else tracer.detach(spark)
      val order = new scala.util.Random(seed * 1000003L + idx).shuffle(calls)
      var wall = 0.0
      order.foreach { case (name, fn) =>
        tracer.reset()
        lake.foreach(_.spans.clear())
        val c0 = System.nanoTime()
        var c1 = c0
        val (err, verdict) = try {
          val df = fn()
          c1 = System.nanoTime()
          (None, sink(name, df))
        } catch {
          case t: Throwable =>
            val e = t.getClass.getSimpleName + ": " +
              String.valueOf(t.getMessage).replaceAll("\\s+", " ").take(300)
            (Some(e), Seq("mode" -> Json.str("error"), "error" -> Json.str(e)))
        }
        val c2 = System.nanoTime()
        wall += (c2 - c0) / 1e9
        if (idx == 0) verdicts += Json.obj(("name" -> Json.str(name)) +: verdict)
        val layers = if (!traced) "{}" else {
          BenchBus.drain(spark.sparkContext)
          val m = tracer.snapshot((c2 - c0) / 1e6)
          m("queries.build_ms") = (c1 - c0) / 1e6
          m("queries.exec_ms") = (c2 - c1) / 1e6
          lake.filter(_ => name == Lake.CallName).foreach { l =>
            m ++= l.spans
            val (files, stored) = l.footprint()
            m("sources.files_written") = files
            m("sources.stored_bytes_per_input_byte") = stored.toDouble / l.inputBytes
          }
          Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
        }
        records += Json.obj(Seq("pass" -> idx.toString, "name" -> Json.str(name),
          "wall_s" -> Json.num((c2 - c0) / 1e9),
          "ok" -> err.isEmpty.toString,
          "error" -> err.map(Json.str).getOrElse("null"),
          "traced" -> traced.toString, "layers" -> layers))
      }
      passes += Json.obj(Seq("pass" -> idx.toString, "cold" -> (idx == 0).toString,
        "settle" -> settle.toString, "traced" -> traced.toString,
        "wall_s" -> Json.num(wall)))
    }

    // Cold pass, one settling pass, then the measured passes. The second
    // execution of a call is still markedly slower than the third, so the
    // settling pass is not measured. The number of measured passes is
    // fixed by the launcher, not by the clock: calls keep speeding up over
    // several executions, so a pass count that followed the clock would
    // move pass_s with it. A traced run measures the tracing overhead
    // inside the same JVM: its measured passes alternate traced and
    // untraced, starting and ending traced, so a linear drift cancels out
    // of the comparison.
    runPass(0, trace)
    runPass(1, traced = false, settle = true)
    val first = 2
    val count = if (trace) math.max(3, measured | 1) else measured
    (first until first + count).foreach(i =>
      runPass(i, trace && (i - first) % 2 == 0))
    tracer.detach(spark)
    val rssMb = vmHwmMb()

    val lakeCheck = lake.map(l => try l.check() catch {
      case t: Throwable => Json.obj(Seq("error" -> Json.str(
        t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage).take(300))))
    }).getOrElse("null")

    val out = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "session_s" -> Json.num(sessionS),
      "rss_peak_mb" -> Json.num(rssMb),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "session_confs" -> Json.obj((confs :+ ("extensions" ->
        classOf[GraftExtensions].getName)).map { case (k, v) => k -> Json.str(v) }),
      "oracle_sql" -> Json.obj(callNames.flatMap(n =>
        SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s)))),
      "passes" -> passes.mkString("[", ",", "]"),
      "calls" -> records.mkString("[", ",\n", "]"),
      "verify" -> verdicts.mkString("[", ",", "]"),
      "lake" -> lakeCheck))
    Files.write(Paths.get(opt("out")), out.getBytes(UTF_8))
    try spark.stop() catch { case _: Throwable => () }
    System.exit(0)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON rendering for the run document. */
object Json {
  def str(s: String): String = JsonOut.quote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Order-insensitive content hash of a result: every row rendered in a
  * canonical text form, the lines sorted, then SHA-256. */
object Canon {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(cell).mkString("|")).sorted
      .foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }
}

/** Per-call layer counters from the Spark, SQL and streaming listeners.
  * Attached only in traced passes; counters are reset before each call
  * and read after the listener bus has drained. */
final class Tracer(cpus: Int) {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var attached = false
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  private def max(k: String, v: Double): Unit =
    c.synchronized { c(k) = math.max(c(k), v) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) add("spark.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_ms", m.executorRunTime.toDouble)
        add("spark.cpu_ms", m.executorCpuTime / 1e6)
        add("spark.gc_ms", m.jvmGCTime.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => add("plans.sql_executions", 1)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"plans.${phase}_ms", s.durationMs.toDouble) }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    private val started = mutable.Map.empty[java.util.UUID, Long]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.synchronized { started(e.id) = System.nanoTime() }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      if (p.numInputRows == 0) add("streaming.empty_batches", 1)
      p.durationMs.asScala.foreach { case (k, v) =>
        val name = k.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase
        add(s"streaming.${if (name == "trigger_execution") "trigger" else name}_ms",
          v.toDouble)
      }
      max("streaming.state_bytes",
        p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      started.synchronized(started.remove(e.id)).foreach(t0 =>
        add("streaming.lifetime_ms", (System.nanoTime() - t0) / 1e6))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = if (!attached) {
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
    attached = true
  }

  def detach(s: SparkSession): Unit = if (attached) {
    BenchBus.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
    attached = false
  }

  def reset(): Unit = c.synchronized(c.clear())

  /** The call's counters plus the derived dispatch floor and the
    * streaming start/stop time (lifetime minus trigger time). */
  def snapshot(wallMs: Double): mutable.Map[String, Double] = c.synchronized {
    val m = mutable.Map.empty[String, Double] ++ c
    m("spark.dispatch_floor_ms") = wallMs - c("spark.task_ms") / cpus
    if (c.contains("streaming.lifetime_ms"))
      m("streaming.start_stop_ms") =
        c("streaming.lifetime_ms") - c("streaming.trigger_ms")
    m -= "streaming.lifetime_ms"
    m
  }
}

/** The paper's import path as one benchmark call: two batches of MicMac
  * XML are imported (glob readers for autocal and blinis, the manifest
  * reader for orimatis), keyed, upserted into a graftlines table, read
  * back, and cut to one transfo-tree snapshot.
  *
  * Corpus layout (written by gen_micmac.py): `<corpus>/{a,b}/{autocal,
  * blinis,orimatis}/<file>.xml` and `<corpus>/{a,b}/manifest.txt` listing
  * the batch's orimatis paths. */
final class Lake(spark: SparkSession, corpus: String, dir: String, cpus: Int,
    expectedRows: Long, snapshotTree: String) {
  import org.apache.spark.sql.functions._
  import graft.etl.{FrameGraph, MicMacEtl}
  import graft.sources.XmlManifest

  val spans = mutable.Map.empty[String, Double]
  private val key = Seq("file", "name")

  private def span[A](k: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally spans(k) = spans.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e6
  }

  /** One batch as (file, name, transfo_type, params), ids over the
    * natural key (file basename, transfo name). graftlines stores no
    * arrays, so the parameters travel as their space-joined decimal
    * text, which round-trips a double exactly. */
  private def importBatch(batch: String): DataFrame = {
    val base = regexp_extract(col("file"), "([^/]+)$", 1).as("file")
    val xml = span("sources.manifest_read_ms") {
      XmlManifest.readXml(spark,
        XmlManifest.fromPathsFile(spark, s"$corpus/$batch/manifest.txt"),
        parts = cpus).localCheckpoint(eager = true)
    }
    span("etl.import_ms") {
      val auto = MicMacEtl.importAutocal(spark, s"$corpus/$batch/autocal/*.xml")(
        "transfos").select(base, col("transfo_name").as("name"),
        col("transfo_type"), params(col("parameters")))
      val blin = MicMacEtl.importBlinis(spark, s"$corpus/$batch/blinis/*.xml")(
        "transfos").select(base, col("cam").as("name"), col("transfo_type"),
        params(col("mat4x3")))
      val ori = MicMacEtl.importOrimatisXml(xml)("transfos").select(base,
        col("transfo_type").as("name"), col("transfo_type"),
        params(col("mat4x3")))
      MicMacEtl.withSurrogateIds(auto.unionByName(blin).unionByName(ori), key)
        .localCheckpoint(eager = true)
    }
  }

  private def params(c: org.apache.spark.sql.Column) =
    array_join(transform(c, _.cast("string")), " ").as("params")

  private def write(df: DataFrame): Unit = span("sources.write_ms") {
    df.write.format("graftlines").mode("overwrite").save(dir)
  }

  private def read(): DataFrame = span("sources.read_ms") {
    spark.read.format("graftlines").load(dir).localCheckpoint(eager = true)
  }

  private def upsert(existing: DataFrame, staging: DataFrame): DataFrame =
    span("etl.upsert_ms") {
      MicMacEtl.getOrCreate(existing, staging, key).localCheckpoint(eager = true)
    }

  /** (files, bytes) the table occupies on disk. */
  def footprint(): (Int, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    (files.size, files.map(p => Files.size(p)).sum)
  }

  lazy val inputBytes: Long = Files.walk(Paths.get(corpus)).iterator().asScala
    .filter(p => p.toString.endsWith(".xml")).map(p => Files.size(p)).sum

  /** The timed call, on a fresh table each time so every call does the
    * same work; returns the snapshot edges of one seeded tree. */
  def run(): DataFrame = {
    deleteDir(Paths.get(dir))
    write(importBatch("a"))
    write(upsert(read(), importBatch("b")))
    val lakeRows = read()
    span("etl.snapshot_ms") {
      val trees = MicMacEtl.transfoTree(lakeRows, col("name"))
      FrameGraph.snapshot(lakeRows, trees, snapshotTree, "name")
        .localCheckpoint(eager = true)
    }
  }

  /** After a call: the table holds exactly the generator's rows, and
    * re-importing batch b adds none. Also the on-disk footprint. */
  def check(): String = {
    val rows = read().count()
    val again = upsert(read(), importBatch("b")).count()
    val (files, stored) = footprint()
    Json.obj(Seq("expected_rows" -> expectedRows.toString,
      "rows" -> rows.toString, "reimport_added" -> (again - rows).toString,
      "files" -> files.toString, "stored_bytes" -> stored.toString,
      "input_bytes" -> inputBytes.toString))
  }

  private def deleteDir(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object Lake {
  val CallName = "lake_import"
}
