package graft

import org.apache.spark.sql.SparkSession

/** Multi-JVM differential smoke (r11 VERDICT #3): run a representative
  * query slice twice — once on `local[4]` (one JVM, the mode every
  * gate uses) and once on `local-cluster[2,2,1024]` (TWO separate
  * executor JVMs launched from SPARK_HOME, real network shuffle, real
  * closure/broadcast serialization across processes) — and require
  * byte-identical results. This witnesses the failure classes
  * `local[*]` structurally cannot: a closure capturing a non-
  * serializable driver object, a custom SparkPlan or Expression that
  * only works because everything shares one heap, a broadcast that
  * never actually crosses a process boundary.
  *
  * The slice deliberately covers the engine's custom moving parts:
  * the frozen-bounds DistributedRank (driver-collected literal bounds
  * + broadcast offsets), the native AsOfJoin LogicalPlan/Exec, the
  * graftlines DSv2 connector (scan + versioned write/read round trip),
  * a flatMapGroupsWithState streaming query (cross-process state
  * store), and a dedup/text query (custom Catalyst expressions).
  *
  * Opt-in (not part of `sbt test`): {{{
  *   SPARK_SCALA_VERSION=2.13 sbt -batch "runMain graft.ClusterSmoke [sfDir]"
  * }}}
  * (the env var is required: the standalone worker's executor-command
  * builder infers the Scala version from a source-tree layout that a
  * binary SPARK_HOME does not have, and fails without it).
  * Exits nonzero on any divergence.
  *
  * Phase 3 (r12 VERDICT #3) is the EXECUTOR-LOSS smoke: SIGKILL one
  * executor JVM (CoarseGrainedExecutorBackend) mid-query — once during
  * the post-shuffle stage of a shuffle-heavy aggregation (so the dead
  * executor's map outputs are LOST and the FetchFailed / stage-retry
  * path must recompute them) and once mid-write through the graftlines
  * DSv2 sink — and require the job to complete via retry with results
  * identical to the undisturbed run, and the write to commit exactly
  * one copy of every row. The standalone worker relaunches a
  * replacement executor, so the phase also witnesses re-registration.
  * A third probe kills an executor mid-STREAM under a checkpointed
  * stateful aggregation (complete-mode groupBy over one-file-per-
  * trigger micro-batches): the dead executor takes its in-memory state
  * store partitions with it, so the replacement must reload state from
  * the checkpoint — the recovery layer the batch probes never touch.
  * The final state table must match both the undisturbed stream and
  * the batch aggregate.
  *
  * Caveats (documented in BASELINE.md): local-cluster still shares one
  * machine and one disk — it proves serialization, wire-level
  * correctness, and single-executor-loss recovery, not cluster-scale
  * scheduling or correlated multi-node failure.
  */
object ClusterSmoke {

  private val slice = Seq(
    "q_win_ntile_distributed", // DistributedRank: sketch + frozen bounds
    "q_join_asof",             // native AsOfJoin plan/exec
    "q_source_dsv2",           // graftlines DSv2 scan + pushdown
    "q_stream_stateful",       // flatMapGroupsWithState across JVMs
    "q_dedup_exact",           // md5-normalize dedup (custom exprs)
    "q_sim_cosine_topk",       // fdot codegen expression on executors
    "q_join_broadcast",        // broadcast actually crossing processes
    "q_agg_pricing_summary",   // partial+final hash agg over the wire
    "q_agg_udaf_geomean")      // custom Aggregator serialization

  private def session(master: String): SparkSession = {
    val b = GraftSession.builder("smoke", 8)
      .master(master)
      .appName(s"graft-cluster-smoke-$master")
    if (master.startsWith("local-cluster")) {
      // executor JVMs are launched fresh from SPARK_HOME and know
      // nothing about sbt's classpath: hand them ours (graft classes)
      // and the same JDK17 add-opens the driver fork uses
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      b.config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory", "1g")
    }
    b.getOrCreate()
  }

  /** Canonical result of each slice query plus a graftlines versioned
    * write/read round trip, as sorted row strings. */
  private def runAll(master: String, sfDir: String)
      : Map[String, Seq[String]] = {
    val spark = session(master)
    try {
      val qs = slice.map { name =>
        name -> SparkEntry.queries(name)(spark, sfDir)
          .collect().map(_.toString).sorted.toSeq
      }.toMap
      // graftlines round trip: versioned appends from EXECUTOR tasks,
      // then latest + time-travel reads back through the DSv2 scan
      val dir = GraftTmp.dir(s"smoke_gl_${master.replaceAll("[^a-z0-9]", "_")}")
      val hp = new org.apache.hadoop.fs.Path(dir)
      val hconf = spark.sparkContext.hadoopConfiguration
      hp.getFileSystem(hconf).delete(hp, true)
      graft.sources.GraftLines.markVersioned(dir, hconf)
      import spark.implicits._
      (0L until 100L).toDF("v").repartition(4)
        .write.format("graftlines").mode("append").save(dir)
      (100L until 150L).toDF("v").repartition(4)
        .write.format("graftlines").mode("append").save(dir)
      val latest = spark.read.format("graftlines").load(dir)
        .collect().map(_.toString).sorted.toSeq
      val v1 = spark.read.format("graftlines").option("versionAsOf", 1)
        .load(dir).collect().map(_.toString).sorted.toSeq
      qs + ("gl_roundtrip_latest" -> latest) + ("gl_roundtrip_v1" -> v1)
    } finally spark.stop()
  }

  /** Full command line of `pid` via /proc — ProcessHandle's
    * commandLine() is TRUNCATED at 4096 bytes on Linux, and the
    * executor classpath alone overflows that, hiding the backend
    * class name from any ProcessHandle-based match. */
  private def cmdlineOf(pid: Long): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/proc/$pid/cmdline")),
      java.nio.charset.StandardCharsets.UTF_8).replace('\u0000', ' ')
    catch { case _: Exception => "" }

  /** SIGKILL one executor JVM of `appId`. local-cluster workers run in
    * THIS JVM and spawn executor backends as its child processes, so
    * only descendants are searched; the app-id filter keeps the kill
    * inside this smoke even if another Spark shares the box. */
  private def killOneExecutor(appId: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val victim = ProcessHandle.current().descendants().iterator().asScala
      .find { p =>
        val cmd = cmdlineOf(p.pid())
        cmd.contains("CoarseGrainedExecutorBackend") && cmd.contains(appId)
      }
    victim.map { p => p.destroyForcibly(); p.pid() }
  }

  /** Arms a killer thread that waits for the `stage`-th distinct stage
    * (0-based) to start a task, sleeps `delayMs` so the stage is truly
    * mid-flight, then SIGKILLs one executor. Returns (listener to
    * unregister, future pid). */
  private def armKiller(spark: SparkSession, stage: Int, delayMs: Long)
      : (org.apache.spark.scheduler.SparkListener,
        java.util.concurrent.CompletableFuture[java.lang.Long]) = {
    val appId = spark.sparkContext.applicationId
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pid = new java.util.concurrent.CompletableFuture[java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(
          ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
        seen.add(ts.stageId)
        if (seen.size > stage && fired.compareAndSet(false, true)) {
          new Thread(() => {
            Thread.sleep(delayMs)
            killOneExecutor(appId) match {
              case Some(p) => pid.complete(p)
              case None => pid.completeExceptionally(new IllegalStateException(
                "no live executor found to kill — the job finished too " +
                  "fast for the loss to land; widen the workload"))
            }
          }, "executor-killer").start()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (listener, pid)
  }

  /** Phase 3: executor loss mid-query and mid-write (see scaladoc). */
  private def executorLossPhase(sfDir: String): Int = {
    import org.apache.spark.sql.{Encoders, functions => F}
    val spark = session("local-cluster[2,2,1024]")
    var bad = 0
    try {
      import spark.implicits._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select($"l_orderkey", $"l_partkey", $"l_quantity")
      // shuffle-heavy probe, slowed AFTER the first exchange so a kill
      // there destroys already-produced map outputs: repartition(8)
      // (stage 1) -> per-task sleep + group-agg (stage 2+). The sleep
      // is data-independent, so the disturbed result must be IDENTICAL.
      def heavy(): Seq[String] = {
        val slowed = li.repartition(8).mapPartitions { it =>
          Thread.sleep(1500); it
        }(Encoders.row(org.apache.spark.sql.types.StructType(
          li.schema.fields)))
        slowed.groupBy(($"l_orderkey" % 100).as("k"))
          .agg(F.sum($"l_quantity").as("q"),
            F.count(F.lit(1)).as("n"),
            F.approx_count_distinct($"l_partkey").as("d"))
          .collect().map(_.toString).sorted.toSeq
      }
      println("[cluster-smoke] loss phase: undisturbed reference query")
      val ref = heavy()
      println("[cluster-smoke] loss phase: killing one executor mid-shuffle")
      val (l1, pid1) = armKiller(spark, stage = 1, delayMs = 400)
      val got = try heavy()
        finally spark.sparkContext.removeSparkListener(l1)
      val killed1 = pid1.get(60, java.util.concurrent.TimeUnit.SECONDS)
      require(ProcessHandle.of(killed1).map[Boolean](h => !h.isAlive)
        .orElse(true), s"victim $killed1 must be dead")
      if (got == ref && ref.nonEmpty)
        println(s"[cluster-smoke] OK   loss_query (pid $killed1 killed; " +
          s"${ref.size} rows identical after stage retry)")
      else { bad += 1
        println(s"[cluster-smoke] FAIL loss_query: ${ref.size} vs " +
          s"${got.size} rows after executor loss") }
      // exactly-once write under loss: versioned graftlines append
      // whose tasks sleep, killed mid-write; retried attempts must
      // land ONE copy of every row and one generation
      val dir = GraftTmp.dir("smoke_gl_loss")
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(hp, true)
      graft.sources.GraftLines.markVersioned(dir,
        spark.sparkContext.hadoopConfiguration)
      println("[cluster-smoke] loss phase: killing one executor mid-write")
      val (l2, pid2) = armKiller(spark, stage = 0, delayMs = 400)
      try {
        (0L until 10000L).toDF("v").repartition(8)
          .mapPartitions { it => Thread.sleep(1500); it }(
            Encoders.row(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("v",
                org.apache.spark.sql.types.LongType)))))
          .write.format("graftlines").mode("append").save(dir)
      } finally spark.sparkContext.removeSparkListener(l2)
      val killed2 = pid2.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val back = spark.read.format("graftlines").load(dir)
        .as[Long].collect().sorted.toSeq
      val gens = fs.listStatus(hp).map(_.getPath.getName)
        .filter(_.startsWith(graft.sources.GraftLines.GenPrefix))
        .flatMap(_.stripPrefix(graft.sources.GraftLines.GenPrefix)
          .toIntOption).sorted.toSeq
      if (back == (0L until 10000L) && gens == Seq(1))
        println(s"[cluster-smoke] OK   loss_write (pid $killed2 killed; " +
          "10000 rows exactly once, one generation)")
      else { bad += 1
        println(s"[cluster-smoke] FAIL loss_write: ${back.size} rows " +
          s"(${back.distinct.size} distinct), generations $gens") }
      // stateful STREAMING under loss: a checkpointed complete-mode
      // aggregation fed one file per micro-batch; the kill lands while
      // state partitions live on an executor, so the replacement
      // executor must RELOAD state from the checkpoint (the recovery
      // layer the batch probes above never touch). Aggregates are
      // integer-only — a Double sum would float-reorder under retry
      // and turn recovery noise into false divergence.
      val srcDir = GraftTmp.dir("smoke_stream_loss_src")
      val sp = new org.apache.hadoop.fs.Path(srcDir)
      fs.delete(sp, true)
      spark.read.parquet(s"$sfDir/events.parquet")
        .repartition(6).write.mode("overwrite").parquet(srcDir)
      val sch = spark.read.parquet(srcDir).schema
      def runStream(tag: String, disturb: Boolean): (Seq[String], Long) = {
        val ckpt = GraftTmp.dir(s"smoke_stream_loss_ckpt_$tag")
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        val name = s"loss_stream_$tag"
        val slowed = spark.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
          .mapPartitions { it => Thread.sleep(300); it }(Encoders.row(sch))
        val agg = slowed.groupBy($"user_id")
          .agg(F.count(F.lit(1)).as("n"),
            F.sum(F.round($"value" * 100).cast("long")).as("cents"))
        val q = agg.writeStream.outputMode("complete").format("memory")
          .queryName(name).option("checkpointLocation", ckpt).start()
        val armed = if (disturb) Some(armKiller(spark, stage = 3,
          delayMs = 300)) else None
        // sampled the INSTANT the drain completes: the pid future
        // resolves at destroyForcibly time, so done-here ⇔ the kill
        // landed while the stream still had work — killing an idle
        // executor after the data is finalized would be a vacuous pass
        var killedMidStream = false
        try {
          q.processAllAvailable()
          killedMidStream = armed.forall(_._2.isDone)
        } finally {
          armed.foreach(a => spark.sparkContext.removeSparkListener(a._1))
          q.stop()
        }
        val killed = armed match {
          case None => -1L
          case Some((_, pid)) =>
            if (!killedMidStream)
              throw new IllegalStateException("stream-loss probe " +
                "INCONCLUSIVE: the stream drained before the killer " +
                "fired (or too few stages started) — widen the workload")
            pid.get().longValue()
        }
        (spark.table(name).collect().map(_.toString).sorted.toSeq, killed)
      }
      println("[cluster-smoke] loss phase: undisturbed reference stream")
      val (streamRef, _) = runStream("ref", disturb = false)
      val batchRef = spark.read.parquet(srcDir).groupBy($"user_id")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.round($"value" * 100).cast("long")).as("cents"))
        .collect().map(_.toString).sorted.toSeq
      println("[cluster-smoke] loss phase: killing one executor mid-stream")
      val (streamGot, killed3) = runStream("loss", disturb = true)
      if (streamGot == streamRef && streamRef == batchRef && streamRef.nonEmpty)
        println(s"[cluster-smoke] OK   loss_stream (pid $killed3 killed; " +
          s"${streamRef.size} state rows identical after recovery, " +
          "and equal to the batch aggregate)")
      else { bad += 1
        println(s"[cluster-smoke] FAIL loss_stream: stream ${streamGot.size}" +
          s" vs ref ${streamRef.size} vs batch ${batchRef.size} rows; " +
          s"first diff vs ref: ${streamRef.zipAll(streamGot, "<none>",
            "<none>").find(p => p._1 != p._2).getOrElse(("", ""))}") }
      bad
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    println(s"[cluster-smoke] reference run on local[4] ($sfDir)")
    val ref = runAll("local[4]", sfDir)
    println(s"[cluster-smoke] cluster run on local-cluster[2,2,1024]")
    val got = runAll("local-cluster[2,2,1024]", sfDir)
    var bad = 0
    (ref.keySet ++ got.keySet).toSeq.sorted.foreach { k =>
      val (r, g) = (ref.getOrElse(k, Nil), got.getOrElse(k, Nil))
      if (r == g && r.nonEmpty)
        println(s"[cluster-smoke] OK   $k (${r.size} rows identical)")
      else if (r.isEmpty) { bad += 1
        println(s"[cluster-smoke] FAIL $k: empty reference result") }
      else { bad += 1
        println(s"[cluster-smoke] FAIL $k: ${r.size} vs ${g.size} rows; " +
          s"first diff: ${r.zipAll(g, "<none>", "<none>")
            .find(p => p._1 != p._2).getOrElse(("", ""))}") }
    }
    if (bad > 0) {
      println(s"[cluster-smoke] $bad DIVERGENT results")
      sys.exit(1)
    }
    println(s"[cluster-smoke] all ${ref.size} checks identical across JVMs")
    val lossSf = sys.env.getOrElse("SPARK_GRAFT_LOSS_SF",
      "/root/testdata/sf0.01")
    println(s"[cluster-smoke] executor-loss phase ($lossSf)")
    val lossBad = executorLossPhase(lossSf)
    if (lossBad > 0) {
      println(s"[cluster-smoke] $lossBad executor-loss FAILURES")
      sys.exit(1)
    }
    println("[cluster-smoke] executor-loss recovery verified " +
      "(query identical after stage retry; write exactly-once)")
  }
}
