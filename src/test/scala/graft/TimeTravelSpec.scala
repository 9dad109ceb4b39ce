package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLines

/** Time travel on versioned graftlines tables (opt-in via
  * TBLPROPERTIES ('versioned'='true')): every commit path — append,
  * overwrite, row-level COW — publishes a generation; `VERSION AS OF`
  * replays any committed generation byte-for-byte; retention is an
  * explicit expireVersions sweep; non-versioned tables keep the
  * original physical-truncation semantics (covered by GraftLinesSpec,
  * untouched here). */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = GraftTmp.dir("tt_spec")

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def hfs(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)

  private def markVersioned(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(hconf)
    fs.delete(hp, true)
    fs.mkdirs(hp)
    fs.create(new org.apache.hadoop.fs.Path(hp,
      GraftLines.VersionMarker), true).close()
  }

  private def setupCatalog(name: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", s"$dir/$name")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
    s"$dir/$name/ns"
  }

  test("append/overwrite publish generations; VERSION AS OF replays each") {
    val ns = setupCatalog("graft_tt1")
    spark.sql("DROP TABLE IF EXISTS graft_tt1.ns.t")
    spark.sql("CREATE TABLE graft_tt1.ns.t (k BIGINT, s STRING) " +
      "USING graftlines TBLPROPERTIES ('versioned'='true')")
    (0L until 10L).map(k => (k, s"a$k")).toDF("k", "s").coalesce(1)
      .writeTo("graft_tt1.ns.t").append()
    (10L until 30L).map(k => (k, s"b$k")).toDF("k", "s").coalesce(1)
      .writeTo("graft_tt1.ns.t").append()
    (100L until 105L).map(k => (k, s"c$k")).toDF("k", "s").coalesce(1)
      .writeTo("graft_tt1.ns.t").overwrite(lit(true))
    // latest = the overwrite
    assert(spark.table("graft_tt1.ns.t").count() == 5)
    // each committed generation replays exactly
    assert(spark.sql(
      "SELECT count(*) FROM graft_tt1.ns.t VERSION AS OF 1")
      .collect()(0).getLong(0) == 10)
    assert(spark.sql(
      "SELECT count(*), max(k) FROM graft_tt1.ns.t VERSION AS OF 2")
      .collect()(0) match { case r => r.getLong(0) == 30 && r.getLong(1) == 29L })
    assert(spark.sql(
      "SELECT min(k) FROM graft_tt1.ns.t VERSION AS OF 3")
      .collect()(0).getLong(0) == 100L)
    // overwrite deleted NOTHING: generation-1 files still on disk
    val tdir = s"$ns/t"
    val files = hfs(tdir).listStatus(new org.apache.hadoop.fs.Path(tdir))
      .map(_.getPath.getName).filter(_.endsWith(".gl"))
    assert(files.exists(_.contains("-g1.")), files.mkString(","))
    assert(files.exists(_.contains("-g3.")), files.mkString(","))
    // unknown generation fails loudly, never returns partial data
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_tt1.ns.t VERSION AS OF 9").collect())
    assert(e.getMessage.contains("no generation 9"))
  }

  test("UPDATE and DELETE are time-travelable; writes to the past rejected") {
    setupCatalog("graft_tt2")
    spark.sql("DROP TABLE IF EXISTS graft_tt2.ns.t")
    spark.sql("CREATE TABLE graft_tt2.ns.t (k BIGINT, v BIGINT) " +
      "USING graftlines TBLPROPERTIES ('versioned'='true')")
    (0L until 20L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(2)
      .writeTo("graft_tt2.ns.t").append()
    spark.sql("UPDATE graft_tt2.ns.t SET v = v + 1 WHERE k < 5")
    spark.sql("DELETE FROM graft_tt2.ns.t WHERE k >= 15")
    // live table has both statements applied
    assert(spark.table("graft_tt2.ns.t").count() == 15)
    assert(spark.table("graft_tt2.ns.t").filter($"k" === 0L)
      .collect()(0).getLong(1) == 1L)
    // v1 = pre-statement table, from the SAME bytes
    val v1 = spark.sql("SELECT * FROM graft_tt2.ns.t VERSION AS OF 1")
    assert(v1.count() == 20)
    assert(v1.filter($"k" === 0L).collect()(0).getLong(1) == 0L)
    // v2 = after UPDATE, before DELETE
    val v2 = spark.sql("SELECT * FROM graft_tt2.ns.t VERSION AS OF 2")
    assert(v2.count() == 20)
    assert(v2.filter($"k" === 0L).collect()(0).getLong(1) == 1L)
    // you cannot write to the past
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft_tt2.ns.t VERSION AS OF 1 VALUES (9, 9)"))
    assert(e.getMessage.toLowerCase.contains("version")
      || e.getMessage.toLowerCase.contains("time travel"))
  }

  test("DELETE FROM, DELETE WHERE 1 = 1 and TRUNCATE empty the table, not its history") {
    setupCatalog("graft_tt_trunc")
    val t = "graft_tt_trunc.ns.t"
    for (stmt <- Seq(s"DELETE FROM $t", s"DELETE FROM $t WHERE 1 = 1",
        s"DELETE FROM $t WHERE k >= 0 OR true", s"TRUNCATE TABLE $t")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) USING graftlines " +
        "TBLPROPERTIES ('versioned'='true')")
      (0L until 20L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(2)
        .writeTo(t).append()
      spark.sql(stmt)
      assert(spark.table(t).count() == 0, s"`$stmt` left rows behind")
      assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1").count() == 20,
        s"`$stmt` lost the previous generation")
    }
  }

  test("expireVersions keeps the newest K generations and the live read") {
    val ns = setupCatalog("graft_tt3")
    spark.sql("DROP TABLE IF EXISTS graft_tt3.ns.t")
    spark.sql("CREATE TABLE graft_tt3.ns.t (k BIGINT) USING graftlines " +
      "TBLPROPERTIES ('versioned'='true')")
    (0L until 4L).foreach { i =>
      Seq(i).toDF("k").coalesce(1).writeTo("graft_tt3.ns.t").append()
    }
    val tdir = s"$ns/t"
    assert(GraftLines.expireVersions(tdir, keepLast = 2, hconf)
      ._1 == Seq(1, 2))
    // retained generations read; the append chain means gen 3 holds
    // rows 0..2 (files of gens 1-2 are still referenced by gen 3 —
    // expire deletes only files NO retained generation lists)
    assert(spark.sql("SELECT count(*) FROM graft_tt3.ns.t VERSION AS OF 3")
      .collect()(0).getLong(0) == 3)
    assert(spark.table("graft_tt3.ns.t").count() == 4)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM graft_tt3.ns.t VERSION AS OF 1").collect())
    assert(e.getMessage.contains("no generation 1"))
    // overwrite then expire: pre-overwrite files become unreferenced
    // and are physically reclaimed
    Seq(99L).toDF("k").coalesce(1)
      .writeTo("graft_tt3.ns.t").overwrite(lit(true))
    val (dropped, dead) = GraftLines.expireVersions(tdir, 1, hconf)
    assert(dropped == Seq(3, 4))
    assert(dead.nonEmpty, "pre-overwrite files must be reclaimed")
    assert(spark.table("graft_tt3.ns.t").collect().map(_.getLong(0)).toSeq
      == Seq(99L))
  }

  test("path-based reads select generations via option(versionAsOf)") {
    val p = s"$dir/path_versioned"
    val fs = hfs(p)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p))
    // versioning as a table feature on a PATH table: drop the marker
    fs.create(new org.apache.hadoop.fs.Path(p,
      GraftLines.VersionMarker), true).close()
    Seq((1L, "x")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    Seq((2L, "y")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    assert(spark.read.format("graftlines").load(p).count() == 1)
    val v1 = spark.read.format("graftlines")
      .option("versionAsOf", "1").load(p)
    assert(v1.collect()(0).getString(1) == "x")
    // versionAsOf on an unversioned directory fails loudly
    val p2 = s"$dir/path_plain"
    Seq((1L, "x")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p2)
    val e = intercept[Exception](spark.read.format("graftlines")
      .option("versionAsOf", "1").load(p2).collect())
    assert(e.getMessage.contains("no committed generations"))
  }

  test("TIMESTAMP AS OF resolves the newest generation at the instant") {
    val p = s"$dir/ts_asof"
    markVersioned(p)
    Seq((1L, "x")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    // read the commit instants straight off the generation manifests —
    // mtimes ARE the commit-time coordinate this surface documents
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(n: Int): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(p, s"${GraftLines.GenPrefix}$n"))
      .getModificationTime
    Thread.sleep(1100) // distinct mtimes at 1s filesystem granularity
    Seq((2L, "y")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val (t1, t2) = (mtime(1), mtime(2))
    assert(t1 < t2, s"commit instants must be distinguishable: $t1 / $t2")
    // an instant between the commits sees only generation 1
    val between = spark.read.format("graftlines")
      .option("timestampAsOf", ((t1 + t2) / 2).toString).load(p)
    assert(between.count() == 1)
    // an instant after both sees the full table
    assert(spark.read.format("graftlines")
      .option("timestampAsOf", (t2 + 1000).toString).load(p).count() == 2)
    // before the first commit: loud failure, never an empty read
    val e1 = intercept[Exception](spark.read.format("graftlines")
      .option("timestampAsOf", (t1 - 10000).toString).load(p).collect())
    assert(e1.getMessage.contains("no generation"))
    // both coordinates at once is ambiguous — rejected
    val e2 = intercept[Exception](spark.read.format("graftlines")
      .option("versionAsOf", "1").option("timestampAsOf", t2.toString)
      .load(p).collect())
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("a schema-changing overwrite: every version reads with its own header") {
    // the overwrite leaves gen 1's file on disk beside gen 2's, and
    // inference must type each read by the version it scans, not by
    // whichever header sorts first in the directory
    val p = s"$dir/schema_overwrite"
    markVersioned(p)
    Seq(1, 2).toDF("a").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    Thread.sleep(1100) // distinct mtimes at 1s filesystem granularity
    Seq("x", "y", "z").toDF("b").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    def mtime(n: Int): Long = hfs(p).getFileStatus(
      new org.apache.hadoop.fs.Path(p, s"${GraftLines.GenPrefix}$n"))
      .getModificationTime
    val (t1, t2) = (mtime(1), mtime(2))
    assert(t1 < t2, s"commit instants must be distinguishable: $t1 / $t2")
    def read(opts: (String, String)*) =
      spark.read.format("graftlines").options(opts.toMap).load(p)
    def check(df: org.apache.spark.sql.DataFrame, col: String,
        rows: Seq[Any]): Unit = {
      assert(df.schema.fieldNames.toSeq == Seq(col), df.schema)
      assert(df.collect().map(_.get(0)).toSeq.sortBy(_.toString) == rows)
    }
    val gen2 = Seq("x", "y", "z")
    check(read(), "b", gen2)
    check(read("versionAsOf" -> "2"), "b", gen2)
    check(read("timestampAsOf" -> (t2 + 1000).toString), "b", gen2)
    check(read("versionAsOf" -> "1"), "a", Seq(1, 2))
    check(read("timestampAsOf" -> ((t1 + t2) / 2).toString), "a", Seq(1, 2))
    // an empty overwrite lists no file: the read is empty, whichever
    // header on disk types it, and history keeps its own schemas
    Seq.empty[String].toDF("b")
      .write.format("graftlines").mode("overwrite").save(p)
    assert(read().count() == 0)
    assert(read().collect().isEmpty)
    assert(read("versionAsOf" -> "3").count() == 0)
    check(read("versionAsOf" -> "2"), "b", gen2)
    check(read("versionAsOf" -> "1"), "a", Seq(1, 2))
  }

  test("excludeFilesOfVersion plans only the files the versions don't share") {
    val p = s"$dir/cdf_delta"
    markVersioned(p)
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p) // gen 1: {A}
    Seq((3L, "c")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p) // gen 2: {A, B}
    def delta(v: Int, minus: Int) = spark.read.format("graftlines")
      .option("versionAsOf", v).option("excludeFilesOfVersion", minus)
      .load(p)
    // v2 minus v1's files = exactly the second append's rows…
    assert(delta(2, 1).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // …and the PLAN proves file A was never a partition: versioned
    // names are never reused, so the common file cancels at plan time
    val scan = delta(2, 1).queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GlScan]
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.planInputPartitions().length == 1,
      "the delta read must plan only the one differing file")
    // append-only history: nothing left v1, so the delete side is empty
    assert(delta(1, 2).count() == 0)
    // the file-delta EXCEPT equals the full-version EXCEPT — valid
    // here because no row VALUE spans a common and a differing file
    // (rows are unique); see the option's scaladoc for the general
    // precondition
    val full1 = spark.read.format("graftlines")
      .option("versionAsOf", 1).load(p)
    val full2 = spark.read.format("graftlines")
      .option("versionAsOf", 2).load(p)
    assert(delta(2, 1).except(delta(1, 2)).collect().toSet
      == full2.except(full1).collect().toSet)
    // an uncommitted generation fails loudly, never an empty diff
    val e = intercept[Exception](delta(2, 9).collect())
    assert(e.getMessage.contains("excludeFilesOfVersion"))
  }

  test("two racing appenders never corrupt the table: distinct gens or a loud loser") {
    // the connector's documented multi-writer posture: the generation
    // manifest is the commit's compare-and-swap point, so two
    // concurrent appends either serialize onto DISTINCT generations or
    // exactly one fails loudly ("concurrent committers") — never a
    // silent last-writer-wins that orphans a committed job. The race
    // is real scheduling, so BOTH legal outcomes are asserted.
    val p = s"$dir/race"
    markVersioned(p)
    Seq(0L).toDF("v").write.format("graftlines").mode("append").save(p)
    val errs =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (1 to 2).map { i =>
      new Thread(() => {
        try {
          gate.await()
          spark.range(i * 10, i * 10 + 5).selectExpr("id AS v")
            .write.format("graftlines").mode("append").save(p)
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(errs.size <= 1, s"at most one loser: ${errs.size}")
    errs.forEach { t =>
      val msg = Option(t.getMessage).getOrElse("") +
        Option(t.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("concurrent committers") ||
        msg.contains("already exists"),
        s"loser must fail the concurrent-commit way, got: $t")
    }
    // whatever happened, the surviving table is consistent: the latest
    // generation lists only live files and holds the seed row plus
    // every WINNING append's rows
    val rows = spark.read.format("graftlines").load(p)
      .select("v").collect().map(_.getLong(0)).toSet
    val winners = 2 - errs.size
    assert(rows.contains(0L), "the seed commit must survive")
    val appended = rows - 0L
    assert(appended.size == winners * 5,
      s"$winners winning appends must land exactly, got $rows")
  }

  test("six retrying appenders all converge: every row lands exactly once") {
    // the optimistic-concurrency soak: N writers each append one
    // distinct row, retrying on a concurrent-commit loss (the caller
    // protocol the loud CAS failure enables). Every append must land
    // EXACTLY once, generations must be gap-free and strictly
    // sequential, and no staging or tmp debris may survive — the
    // convergence a catalog-less multi-writer would rely on
    val p = s"$dir/soak"
    markVersioned(p)
    Seq(-1L).toDF("v").write.format("graftlines").mode("append").save(p)
    val writers = 6
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val ts = (0 until writers).map { i =>
      new Thread(() => {
        try {
          gate.await()
          var done = false
          var tries = 0
          while (!done) {
            tries += 1
            require(tries <= 40, s"writer $i starved after 40 tries")
            try {
              Seq(i.toLong).toDF("v")
                .write.format("graftlines").mode("append").save(p)
              done = true
            } catch {
              case t: Throwable
                  if (Option(t.getMessage).getOrElse("") +
                    Option(t.getCause).map(_.getMessage).getOrElse(""))
                    .contains("concurrent committers") => // retry
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    assert(failures.isEmpty, s"no writer may starve or crash: $failures")
    val rows = spark.read.format("graftlines").load(p)
      .select("v").collect().map(_.getLong(0)).toSeq.sorted
    assert(rows == (-1L until writers.toLong).toSeq,
      s"every append exactly once, got $rows")
    // generations are gap-free (no number was burned silently) and no
    // tmp/staging debris survived the losers' retries
    val fs = hfs(p)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName)
    val gens = names.filter(_.startsWith(GraftLines.GenPrefix))
      .flatMap(_.stripPrefix(GraftLines.GenPrefix).toIntOption).sorted
    assert(gens.toSeq == (1 to writers + 1).toSeq,
      s"generations must be sequential and gap-free, got ${gens.toSeq}")
    assert(!names.exists(n => n.endsWith(".tmp") || n.endsWith(".staging")),
      s"no debris may survive: ${names.toSeq.sorted}")
    // the losers' aborted attempts leave renamed-but-unreferenced data
    // files (invisible to every read — manifests are the truth);
    // expireVersions with keepLast >= generations is the orphan-only
    // GC: it must reclaim exactly those and expire nothing
    def manifestLines(g: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(p,
        s"${GraftLines.GenPrefix}$g"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(_.startsWith("#")).toList
      finally in.close()
    }
    val referenced = gens.flatMap(manifestLines).toSet
    val orphansBefore = names
      .filter(n => n.endsWith(".gl") && !n.startsWith("_"))
      .filterNot(referenced)
    // without the opt-in, keepLast >= generations stays a guaranteed
    // no-op even with orphans on disk (the pre-r10 safety contract)
    val noop = GraftLines.expireVersions(p, 100, hconf)
    assert(noop == ((Nil, Nil)),
      s"no-expiry call without gcOrphans must be a no-op: $noop")
    val (expired, deleted) =
      GraftLines.expireVersions(p, 100, hconf, gcOrphans = true)
    assert(expired.isEmpty, s"nothing may expire under keepLast=100: $expired")
    assert(deleted.map(f => new org.apache.hadoop.fs.Path(f).getName)
      .sorted.toSeq == orphansBefore.sorted.toSeq,
      s"orphan GC must reclaim exactly the unreferenced files: $deleted")
    // every generation still replays after the sweep
    gens.foreach { g =>
      val n = spark.read.format("graftlines")
        .option("versionAsOf", g).load(p).count()
      assert(n == g, s"generation $g must still read $g rows, got $n")
    }
  }

  test("readers racing commits and retention never observe a torn state") {
    // The read-side twin of the 6-writer soak: the link(2)-CAS publish
    // proved write-side convergence; this interleaves LATEST reads,
    // time-travel replays, change-feed deltas, and a retention sweep
    // with live retrying committers, asserting no reader ever sees a
    // half-published generation (a listed manifest is complete by
    // publish atomicity), a torn row set, or a GC'd-but-referenced
    // file.
    val p = s"$dir/rsoak"
    markVersioned(p)
    Seq(-1L).toDF("v").write.format("graftlines").mode("append").save(p)
    val writers = 3
    val perWriter = 5
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writersLeft = new java.util.concurrent.atomic.AtomicInteger(writers)
    def listedGens(): Seq[Int] = hfs(p)
      .listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName)
      .filter(_.startsWith(GraftLines.GenPrefix))
      .flatMap(_.stripPrefix(GraftLines.GenPrefix).toIntOption)
      .sorted.toSeq
    val writerThreads = (0 until writers).map { i =>
      new Thread(() => {
        try (0 until perWriter).foreach { k =>
          var done = false
          var tries = 0
          while (!done) {
            tries += 1
            require(tries <= 60, s"writer $i starved after 60 tries")
            try {
              Seq(i * 100L + k).toDF("v")
                .write.format("graftlines").mode("append").save(p)
              done = true
            } catch {
              case t: Throwable
                  if (Option(t.getMessage).getOrElse("") +
                    Option(t.getCause).map(_.getMessage).getOrElse(""))
                    .contains("concurrent committers") => // retry
            }
          }
        } catch { case t: Throwable => failures.add(t) }
        finally writersLeft.decrementAndGet()
      })
    }
    // a committed generation is immutable: remember first-seen content
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Long]]()
    val readerThreads = (0 until 2).map { r =>
      new Thread(() => {
        try {
          var lastLatest = 0L
          while (writersLeft.get() > 0) {
            // LATEST: never throws, never tears (no dup, base row
            // present), and row counts only grow — generations are
            // linear, so a reader can never travel backwards
            val latest = spark.read.format("graftlines").load(p)
              .select("v").collect().map(_.getLong(0)).toSeq
            assert(latest.distinct.size == latest.size,
              s"reader $r: torn latest read $latest")
            assert(latest.contains(-1L), s"reader $r: base row missing")
            assert(latest.size >= lastLatest,
              s"reader $r: latest went backwards ${latest.size} < $lastLatest")
            lastLatest = latest.size
            // TIME TRAVEL on the newest listed generation: gen g holds
            // exactly g rows (append-only), byte-stable across reads
            val g = listedGens().last
            val rows = spark.read.format("graftlines")
              .option("versionAsOf", g).load(p)
              .select("v").collect().map(_.getLong(0)).sorted.toSeq
            assert(rows.size == g,
              s"reader $r: generation $g must read $g rows, got $rows")
            val prev = seen.putIfAbsent(g, rows)
            assert(prev == null || prev == rows,
              s"reader $r: generation $g changed: $prev -> $rows")
            // CHANGE FEED: the delta between consecutive generations of
            // an append-only history is exactly the one appended row
            if (g >= 2) {
              val delta = spark.read.format("graftlines")
                .option("versionAsOf", g)
                .option("excludeFilesOfVersion", g - 1)
                .load(p).count()
              assert(delta == 1,
                s"reader $r: delta($g, ${g - 1}) must be 1 row, got $delta")
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    // retention racing the commits: with gcOrphans OFF and nothing old
    // enough to expire, every sweep must be a strict no-op — never
    // deleting an in-flight commit's renamed-but-unmanifested files
    val vacuumThread = new Thread(() => {
      try while (writersLeft.get() > 0) {
        val swept = GraftLines.expireVersions(p, keepLast = 100, hconf)
        assert(swept == ((Nil, Nil)),
          s"no-expiry sweep under live commits must be a no-op: $swept")
      } catch { case t: Throwable => failures.add(t) }
    })
    (writerThreads ++ readerThreads :+ vacuumThread).foreach(_.start())
    (writerThreads ++ readerThreads :+ vacuumThread).foreach(_.join())
    assert(failures.isEmpty, s"soak failures: $failures")
    val total = 1 + writers * perWriter
    assert(listedGens() == (1 to total),
      "generations must be gap-free after the soak")

    // phase 2: REAL deletion racing readers. Overwrite supersedes every
    // append file, then a keepLast=1 sweep reclaims them while readers
    // replay the retained generation — which must stay exact
    // throughout (no GC'd-but-referenced file).
    Seq(999L).toDF("v").write.format("graftlines").mode("overwrite").save(p)
    val gFinal = total + 1
    val stopPhase2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val phase2Readers = (0 until 2).map { r =>
      new Thread(() => {
        try while (!stopPhase2.get()) {
          val rows = spark.read.format("graftlines")
            .option("versionAsOf", gFinal).load(p)
            .select("v").collect().map(_.getLong(0)).toSeq
          assert(rows == Seq(999L),
            s"phase2 reader $r: retained generation torn: $rows")
          assert(spark.read.format("graftlines").load(p).count() == 1)
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    phase2Readers.foreach(_.start())
    val (expired2, deleted2) = GraftLines.expireVersions(p, 1, hconf)
    stopPhase2.set(true)
    phase2Readers.foreach(_.join())
    assert(failures.isEmpty, s"phase-2 soak failures: $failures")
    assert(expired2 == (1 until gFinal), s"must expire all appends: $expired2")
    assert(deleted2.nonEmpty, "superseded append files must be reclaimed")
    // the retained generation still replays exactly after the sweep
    assert(spark.read.format("graftlines").option("versionAsOf", gFinal)
      .load(p).select("v").collect().map(_.getLong(0)).toSeq == Seq(999L))
  }
}
