package graft.sources

import java.sql.DriverManager

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Object-store-safe commit coordination (r11 VERDICT #1): with the
  * JDBC arbiter configured, the graftlines generation publish must be
  * exactly-once even on a filesystem whose rename is a non-atomic
  * exists-check + copy ([[CopyRenameFileSystem]] — the S3A/GCS
  * semantics under which the default fs-CAS is documented
  * best-effort). Covers: the two-committer CAS, the >=6 retrying
  * writers soak end-to-end through the DSv2 writer, and crashed-winner
  * recovery (a claim without a manifest is completed from the claim's
  * recorded tmp bytes by the next conflicting committer). */
class GlObjectStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val root = GraftTmp.dir("globjstore_spec")
  private val jdbcUrl = "jdbc:derby:memory:glcas;create=true"

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Run `body` with the shim FS registered and the JDBC coordinator
    * active, restoring the shared conf afterwards (suites in the
    * forked test JVM run sequentially, so scoping is safe). */
  private def withCoordinator[A](body: => A): A = {
    if (System.getProperty("derby.stream.error.file") == null)
      System.setProperty("derby.stream.error.file",
        GraftTmp.dir("derby_glcas.log"))
    hconf.set("fs.glcopy.impl",
      classOf[CopyRenameFileSystem].getName)
    hconf.set(GlCommitCoordinator.ModeKey, "jdbc")
    hconf.set(GlCommitCoordinator.UrlKey, jdbcUrl)
    hconf.set(GlCommitCoordinator.DriverKey,
      "org.apache.derby.jdbc.EmbeddedDriver")
    try body
    finally {
      hconf.unset(GlCommitCoordinator.ModeKey)
      hconf.unset(GlCommitCoordinator.UrlKey)
      hconf.unset(GlCommitCoordinator.DriverKey)
    }
  }

  private def markVersioned(p: String): Unit = {
    val hp = new Path(p)
    val fs = hp.getFileSystem(hconf)
    fs.delete(hp, true)
    fs.mkdirs(hp)
    fs.create(new Path(hp, GraftLines.VersionMarker), true).close()
  }

  /** The arbitration key the coordinator uses: the fully-qualified
    * table path (equivalent spellings must collide, not bypass). */
  private def claimKey(dir: String): String =
    new Path(dir).getFileSystem(hconf)
      .makeQualified(new Path(dir)).toString

  private def manifestLines(p: String, g: Int): Seq[String] = {
    val fs = new Path(p).getFileSystem(hconf)
    val in = fs.open(new Path(p, s"${GraftLines.GenPrefix}$g"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("#")).toList
    finally in.close()
  }

  test("shim FS really has object-store rename semantics (no-clobber is NOT atomic)") {
    val fs = new Path(s"glcopy:$root/semantics").getFileSystem({
      hconf.set("fs.glcopy.impl", classOf[CopyRenameFileSystem].getName)
      hconf
    })
    val d = new Path(s"glcopy:$root/semantics")
    fs.mkdirs(d)
    assert(fs.getUri.getScheme == "glcopy",
      "the shim must NOT be scheme file, or the link(2) CAS would engage")
    val a = new Path(d, "a"); val b = new Path(d, "b")
    fs.create(a, true).close()
    fs.create(b, true).close()
    assert(!fs.rename(a, b), "rename onto existing returns false (check)")
    assert(fs.exists(a), "a failed rename must not consume the source")
    fs.delete(b, false)
    assert(fs.rename(a, b), "rename to a free name copies + deletes")
    assert(!fs.exists(a) && fs.exists(b))
  }

  test("two committers on one generation: JDBC CAS admits exactly one") {
    withCoordinator {
      val dir = s"glcopy:$root/cas2"
      markVersioned(dir)
      val errs =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ts = Seq("part-a.gl", "part-b.gl").map { base =>
        new Thread(() => {
          try {
            gate.await()
            GraftLines.writeGen(dir, 1, Seq(base), hconf)
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
      assert(errs.size == 1,
        s"exactly one committer must lose loudly, got ${errs.size}: $errs")
      assert(Option(errs.peek.getMessage).getOrElse("")
        .contains("concurrent committers"),
        s"the loss must be the loud retryable error: ${errs.peek}")
      // the published manifest is exactly one committer's content, and
      // the claims table sealed generation 1
      val lines = manifestLines(dir, 1)
      assert(lines == Seq("part-a.gl") || lines == Seq("part-b.gl"),
        s"manifest must be one committer's content, got $lines")
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 1")
        assert(rs.next() && rs.getInt(1) == 1, "the claim must be sealed")
        assert(!rs.next(), "exactly one claim row for (dir, 1)")
      } finally c.close()
      // no tmp debris from either committer
      val fs = new Path(dir).getFileSystem(hconf)
      val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      assert(!names.exists(_.endsWith(".tmp")),
        s"no tmp debris may survive: ${names.toSeq.sorted}")
    }
  }

  test("crashed winner is recovered from the claim's recorded tmp bytes") {
    withCoordinator {
      val dir = s"glcopy:$root/recover"
      markVersioned(dir)
      // gen 1: a normal commit
      GraftLines.writeGen(dir, 1, Seq("part-seed.gl"), hconf)
      // simulate a winner that claimed gen 2 and crashed BEFORE the
      // publish rename: its tmp manifest is durable, its claim row is
      // unsealed, and no generation-2 manifest exists
      val fs = new Path(dir).getFileSystem(hconf)
      val p2 = new Path(dir, s"${GraftLines.GenPrefix}2")
      val crashedTmp = new Path(dir, p2.getName + ".crashed-winner.tmp")
      val w = new java.io.OutputStreamWriter(
        fs.create(crashedTmp, true), java.nio.charset.StandardCharsets.UTF_8)
      try { w.write("part-seed.gl\n"); w.write("part-crashed.gl\n") }
      finally w.close()
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val ps = c.prepareStatement(
          "INSERT INTO gl_commits (dir, gen, tmp, complete) " +
            "VALUES (?, 2, ?, 0)")
        ps.setString(1, claimKey(dir)); ps.setString(2, crashedTmp.getName)
        ps.executeUpdate(); ps.close()
      } finally c.close()
      // another committer races for gen 2: it must lose LOUDLY (its
      // own content retries at gen 3) and, in losing, complete the
      // crashed winner's publish
      val e = intercept[IllegalArgumentException] {
        GraftLines.writeGen(dir, 2, Seq("part-other.gl"), hconf)
      }
      assert(e.getMessage.contains("concurrent committers"))
      assert(manifestLines(dir, 2) ==
        Seq("part-seed.gl", "part-crashed.gl"),
        "recovery must publish the crashed winner's recorded bytes " +
          "VERBATIM (byte copy, in the order the winner wrote them)")
      val c2 = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c2.createStatement().executeQuery(
          "SELECT complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 2")
        assert(rs.next() && rs.getInt(1) == 1,
          "recovery must seal the recovered claim")
      } finally c2.close()
      assert(!fs.exists(crashedTmp),
        "recovery sweeps the recovered winner's tmp")
      // and the loser's retry protocol works: gen 3 commits cleanly
      GraftLines.writeGen(dir, 3, Seq("part-other.gl"), hconf)
      assert(manifestLines(dir, 3) == Seq("part-other.gl"))
    }
  }

  test("equivalent path spellings share one claim key (no CAS bypass)") {
    withCoordinator {
      val dir = s"glcopy:$root/canon"
      markVersioned(dir)
      // commit under a trailing-slash spelling of the same directory
      GraftLines.writeGen(s"$dir/", 1, Seq("part-a.gl"), hconf)
      // a committer using the plain spelling must CONFLICT on gen 1,
      // not claim a parallel row and silently clobber
      val e = intercept[Exception] {
        GraftLines.writeGen(dir, 1, Seq("part-b.gl"), hconf)
      }
      assert((Option(e.getMessage).getOrElse("") +
        Option(e.getCause).map(_.getMessage).getOrElse(""))
        .contains("concurrent committers") ||
        e.getMessage.contains("already exists"),
        s"second spelling must conflict loudly, got: $e")
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT count(*) FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 1")
        assert(rs.next() && rs.getInt(1) == 1,
          "both spellings must arbitrate under ONE canonical key")
      } finally c.close()
    }
  }

  test("a slow winner recovered by a racer reports success, not a loss") {
    withCoordinator {
      // the double-append guard: if a conflicter recovers a claim
      // whose owner is merely slow, the owner's publish finds the
      // manifest already in place — with its OWN bytes — and must
      // return success (a reported loss would make the caller retry
      // an append that already landed). Simulate by pre-publishing
      // the winner's exact tmp bytes under the final name after the
      // tmp is written but before writeGen's rename runs: writeGen's
      // own pre-checks sit before the tmp write, so drive the
      // coordinator directly the way writeGen does.
      val dir = s"glcopy:$root/slowwin"
      markVersioned(dir)
      val fs = new Path(dir).getFileSystem(hconf)
      val p = new Path(dir, s"${GraftLines.GenPrefix}1")
      val tmp = new Path(dir, p.getName + ".slow-winner.tmp")
      val w = new java.io.OutputStreamWriter(
        fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8)
      try w.write("part-slow.gl\n") finally w.close()
      // racer publishes the same bytes first (what a recoverer does)
      val staged = new Path(dir, p.getName + ".racer.tmp")
      val w2 = new java.io.OutputStreamWriter(
        fs.create(staged, true), java.nio.charset.StandardCharsets.UTF_8)
      try w2.write("part-slow.gl\n") finally w2.close()
      assert(fs.rename(staged, p))
      // the slow winner now claims and publishes: rename returns false
      // (dst exists) — it must seal and SUCCEED, and sweep its tmp
      GlCommitCoordinator.forConf(hconf).get.publish(fs, dir, 1, tmp, p)
      assert(manifestLines(dir, 1) == Seq("part-slow.gl"))
      assert(!fs.exists(tmp), "the winner sweeps its tmp after sealing")
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 1")
        assert(rs.next() && rs.getInt(1) == 1, "the claim must be sealed")
      } finally c.close()
    }
  }

  test("in-doubt commit: claim survives the outage and the next committer completes it") {
    withCoordinator {
      val dir = s"glcopy:$root/indoubt"
      markVersioned(dir)
      GraftLines.writeGen(dir, 1, Seq("part-seed.gl"), hconf)
      val fs = new Path(dir).getFileSystem(hconf)
      // outage: the store accepts writes but every manifest publish
      // fails — rename AND the staged-copy fallback both can't land
      CopyRenameFileSystem.failManifestPublishes.set(true)
      val d = try {
        intercept[GlCommitInDoubtException] {
          GraftLines.writeGen(dir, 2, Seq("part-indoubt.gl"), hconf)
        }
      } finally CopyRenameFileSystem.failManifestPublishes.set(false)
      assert(d.getMessage.contains("possibly-committed"))
      // the claim's recovery bytes are LEFT IN PLACE (writeGen's
      // catch-all must not sweep them) and the claim is unsealed
      val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      val tmps = names.filter(_.endsWith(".tmp"))
      assert(tmps.length == 1,
        s"exactly the claim-recorded tmp must survive, got ${tmps.toSeq}")
      assert(!fs.exists(new Path(dir, s"${GraftLines.GenPrefix}2")),
        "no generation-2 manifest may exist during the outage")
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT tmp, complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 2")
        assert(rs.next() && rs.getString(1) == tmps.head
          && rs.getInt(2) == 0,
          "the claim must record the surviving tmp, unsealed")
      } finally c.close()
      // store recovers; the NEXT committer of gen 2 completes the
      // in-doubt commit (its own content loses loudly and retries)
      val e = intercept[IllegalArgumentException] {
        GraftLines.writeGen(dir, 2, Seq("part-other.gl"), hconf)
      }
      assert(e.getMessage.contains("concurrent committers"))
      assert(manifestLines(dir, 2) == Seq("part-indoubt.gl"),
        "recovery must land the in-doubt commit's bytes")
      val c2 = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c2.createStatement().executeQuery(
          "SELECT complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 2")
        assert(rs.next() && rs.getInt(1) == 1, "recovery seals the claim")
      } finally c2.close()
      // the loser retries cleanly at gen 3, and no debris remains
      GraftLines.writeGen(dir, 3, Seq("part-other.gl"), hconf)
      val after = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      assert(!after.exists(_.endsWith(".tmp")),
        s"recovery must sweep the recovered tmp: ${after.toSeq.sorted}")
    }
  }

  test("six retrying appenders through copy-rename FS: exactly once, gap-free") {
    withCoordinator {
      val p = s"glcopy:$root/soak"
      markVersioned(p)
      Seq(-1L).toDF("v").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
      val writers = 6
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val writersLeft = new java.util.concurrent.atomic.AtomicInteger(writers)
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
                Seq(i.toLong).toDF("v").coalesce(1)
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
      // readers race the arbitrated commits: the copy-implemented
      // manifest publish must still be ALL-OR-NOTHING to a reader
      // (whole-object visibility) — never a torn or backwards LATEST
      val readers = (0 until 2).map { r =>
        new Thread(() => {
          try {
            gate.await()
            var last = 0
            while (writersLeft.get() > 0) {
              val rows = spark.read.format("graftlines").load(p)
                .select("v").collect().map(_.getLong(0)).toSeq
              assert(rows.distinct.size == rows.size,
                s"reader $r: torn latest read $rows")
              assert(rows.contains(-1L), s"reader $r: seed row missing")
              assert(rows.size >= last,
                s"reader $r: latest went backwards ${rows.size} < $last")
              last = rows.size
            }
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      (ts ++ readers).foreach(_.start()); gate.countDown()
      (ts ++ readers).foreach(_.join())
      assert(failures.isEmpty, s"no writer/reader may fail: $failures")
      // every append landed exactly once — the lost-commit window the
      // copy-rename store reopens under fs-mode CAS stays closed
      val rows = spark.read.format("graftlines").load(p)
        .select("v").collect().map(_.getLong(0)).toSeq.sorted
      assert(rows == (-1L until writers.toLong).toSeq,
        s"every append exactly once, got $rows")
      // generations are gap-free and sequential; no debris
      val fs = new Path(p).getFileSystem(hconf)
      val names = fs.listStatus(new Path(p)).map(_.getPath.getName)
      val gens = names.filter(_.startsWith(GraftLines.GenPrefix))
        .flatMap(_.stripPrefix(GraftLines.GenPrefix).toIntOption).sorted
      assert(gens.toSeq == (1 to writers + 1).toSeq,
        s"generations must be sequential and gap-free, got ${gens.toSeq}")
      assert(!names.exists(n => n.endsWith(".tmp") || n.endsWith(".staging")),
        s"no debris may survive: ${names.toSeq.sorted}")
      // every generation replays (manifests reference only live files)
      gens.foreach { g =>
        val n = spark.read.format("graftlines")
          .option("versionAsOf", g).load(p).count()
        assert(n == g, s"generation $g must read $g rows, got $n")
      }
      // the claims table agrees: one sealed row per generation
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT gen, complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(p)}' ORDER BY gen")
        val claims = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getInt(1), r.getInt(2))).toList
        assert(claims.map(_._1) == (1 to writers + 1).toList,
          s"one claim per generation, got $claims")
        assert(claims.forall(_._2 == 1), s"all claims sealed: $claims")
      } finally c.close()
    }
  }

  test("streaming epochs through copy-rename FS: exactly-once, replay swallowed") {
    withCoordinator {
      // the streaming sink's epoch ledger IS the generation manifest
      // (#epoch: first line) — under the arbiter its publish goes
      // through the same claims CAS, so exactly-once must hold on a
      // store with copy-rename semantics, including a checkpoint
      // restart that replays the last micro-batch
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      val p = s"glcopy:$root/stream"
      markVersioned(p)
      val cp = graft.GraftTmp.dir("globjstore_stream_cp")
      val fs = new Path(p).getFileSystem(hconf)
      fs.delete(new Path(cp), true)
      val mem = MemoryStream[(Long, String)](spark)
      mem.addData((1L, "a"), (2L, "b"))
      val q1 = mem.toDF().toDF("k", "s")
        .writeStream.format("graftlines")
        .option("path", p).option("checkpointLocation", cp)
        .outputMode("append").start()
      try q1.processAllAvailable() finally q1.stop()
      // restart over the same checkpoint: the engine may replay the
      // last epoch; the arbitrated ledger must swallow it
      mem.addData((3L, "c"))
      val q2 = mem.toDF().toDF("k", "s")
        .writeStream.format("graftlines")
        .option("path", p).option("checkpointLocation", cp)
        .outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
      val rows = spark.read.format("graftlines").load(p)
        .as[(Long, String)].collect().sorted.toSeq
      assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"exactly-once across restart on the copy-rename store: $rows")
      // each non-empty epoch claimed + sealed exactly one generation
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT gen, complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(p)}' ORDER BY gen")
        val claims = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getInt(1), r.getInt(2))).toList
        assert(claims.map(_._1) == List(1, 2) && claims.forall(_._2 == 1),
          s"one sealed claim per epoch generation, got $claims")
      } finally c.close()
    }
  }

  test("expireVersions retires the dropped generations' claim rows") {
    withCoordinator {
      val dir = s"glcopy:$root/prune"
      markVersioned(dir)
      (1 to 4).foreach(g =>
        GraftLines.writeGen(dir, g, Seq(s"part-$g.gl"), hconf))
      // simulate a winner that crashed between publish and seal and
      // was never conflicted: manifest on disk, row unsealed — the
      // prune must retire it anyway (a published generation is
      // history regardless of seal state), or the row leaks forever
      val c0 = DriverManager.getConnection(jdbcUrl)
      try c0.createStatement().executeUpdate(
        "UPDATE gl_commits SET complete = 0 " +
          s"WHERE dir = '${claimKey(dir)}' AND gen = 1")
      finally c0.close()
      val (dropped, _) = GraftLines.expireVersions(dir, keepLast = 2, hconf)
      assert(dropped == Seq(1, 2))
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT gen FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' ORDER BY gen")
        val left = Iterator.continually(rs)
          .takeWhile(_.next()).map(_.getInt(1)).toList
        assert(left == List(3, 4),
          s"claim rows must follow manifest retention, got $left")
      } finally c.close()
    }
  }

  test("ambiguous claim INSERT: landed-but-ack-lost resolves to a normal win") {
    // the classic in-doubt write: the arbiter applies the INSERT but
    // the client never hears back. claimed() must verify by re-read
    // and proceed as the winner — not fail, not double-claim.
    FaultyJdbc.register()
    hconf.set("fs.glcopy.impl", classOf[CopyRenameFileSystem].getName)
    hconf.set(GlCommitCoordinator.ModeKey, "jdbc")
    hconf.set(GlCommitCoordinator.UrlKey, FaultyJdbc.url)
    hconf.set(GlCommitCoordinator.DriverKey,
      "org.apache.derby.jdbc.EmbeddedDriver")
    try {
      val dir = s"glcopy:$root/ambig_landed"
      markVersioned(dir)
      FaultyJdbc.mode.set(1) // next INSERT executes, then the ack is lost
      try GraftLines.writeGen(dir, 1, Seq("part-ambig.gl"), hconf)
      finally FaultyJdbc.mode.set(0)
      assert(manifestLines(dir, 1) == Seq("part-ambig.gl"),
        "the verified-landed claim must publish normally")
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT count(*), max(complete) FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' AND gen = 1")
        assert(rs.next() && rs.getInt(1) == 1 && rs.getInt(2) == 1,
          "exactly one sealed claim — no double-claim from the retry read")
      } finally c.close()
    } finally {
      hconf.unset(GlCommitCoordinator.ModeKey)
      hconf.unset(GlCommitCoordinator.UrlKey)
      hconf.unset(GlCommitCoordinator.DriverKey)
    }
  }

  test("ambiguous claim INSERT: not-landed and unverifiable both go in-doubt, then clear") {
    FaultyJdbc.register()
    hconf.set("fs.glcopy.impl", classOf[CopyRenameFileSystem].getName)
    hconf.set(GlCommitCoordinator.ModeKey, "jdbc")
    hconf.set(GlCommitCoordinator.UrlKey, FaultyJdbc.url)
    hconf.set(GlCommitCoordinator.DriverKey,
      "org.apache.derby.jdbc.EmbeddedDriver")
    try {
      val dir = s"glcopy:$root/ambig_lost"
      markVersioned(dir)
      val fs = new Path(dir).getFileSystem(hconf)
      // (a) INSERT fails WITHOUT landing; the verify read sees no row.
      // Conservative classification is in-doubt (behind a pooler the
      // row could still land late) with the tmp kept.
      FaultyJdbc.mode.set(2)
      val d1 = try intercept[GlCommitInDoubtException] {
        GraftLines.writeGen(dir, 1, Seq("part-a.gl"), hconf)
      } finally FaultyJdbc.mode.set(0)
      assert(d1.getMessage.contains("possibly-committed"))
      assert(fs.listStatus(new Path(dir))
        .exists(_.getPath.getName.endsWith(".tmp")),
        "the tmp must be kept in case the claim lands late")
      // (b) INSERT fails AND every verify read fails (arbiter down):
      // in-doubt again, never a plain throw that would sweep the tmp
      FaultyJdbc.mode.set(3)
      val d2 = try intercept[GlCommitInDoubtException] {
        GraftLines.writeGen(dir, 1, Seq("part-b.gl"), hconf)
      } finally FaultyJdbc.mode.set(0)
      assert(d2.getMessage.contains("possibly-committed"))
      // neither attempt actually claimed, so a healthy committer of
      // gen 1 proceeds cleanly with its own content
      GraftLines.writeGen(dir, 1, Seq("part-c.gl"), hconf)
      assert(manifestLines(dir, 1) == Seq("part-c.gl"))
    } finally {
      hconf.unset(GlCommitCoordinator.ModeKey)
      hconf.unset(GlCommitCoordinator.UrlKey)
      hconf.unset(GlCommitCoordinator.DriverKey)
    }
  }

  test("a silently-failing DELETE aborts retention with manifests kept, then clears") {
    // fs-mode, no coordinator — the hazard is the filesystem's:
    // delete() returning false with the file left on disk. expire
    // must fail LOUDLY with every manifest intact (a rerun recomputes
    // the same dead set), never drop the manifests and report the
    // still-present file as deleted (unreclaimable leak + clean-
    // looking return value).
    hconf.set("fs.glcopy.impl", classOf[CopyRenameFileSystem].getName)
    val p = s"glcopy:$root/faildel"
    markVersioned(p)
    Seq(1L).toDF("v").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    // overwrite: gen 2 lists ONLY its own file, so gen 1's becomes
    // dead under keepLast=1
    Seq(2L).toDF("v").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    CopyRenameFileSystem.failDataFileDeletes.set(true)
    val e = try intercept[IllegalArgumentException] {
      GraftLines.expireVersions(p, keepLast = 1, hconf)
    } finally CopyRenameFileSystem.failDataFileDeletes.set(false)
    assert(e.getMessage.contains("manifests kept"))
    // both generations still fully readable — nothing was half-swept
    assert(spark.read.format("graftlines").option("versionAsOf", 1)
      .load(p).count() == 1)
    assert(spark.read.format("graftlines").load(p)
      .select("v").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // with deletes healthy again the same sweep succeeds
    val (expired, deleted) = GraftLines.expireVersions(p, 1, hconf)
    assert(expired == Seq(1) && deleted.size == 1)
    assert(spark.read.format("graftlines").load(p)
      .select("v").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a silently-failing DELETE fails a plain overwrite instead of duplicating rows") {
    // the same quiet delete() == false on a PLAIN directory: the
    // overwrite's replaced file stays on disk, so the commit must fail
    // loudly rather than report success with old rows beside new ones
    hconf.set("fs.glcopy.impl", classOf[CopyRenameFileSystem].getName)
    val p = s"glcopy:$root/faildel_plain"
    val hp = new Path(p)
    hp.getFileSystem(hconf).delete(hp, true)
    Seq(1L).toDF("v").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    CopyRenameFileSystem.failDataFileDeletes.set(true)
    val e = try intercept[Exception] {
      Seq(2L).toDF("v").coalesce(1)
        .write.format("graftlines").mode("overwrite").save(p)
    } finally CopyRenameFileSystem.failDataFileDeletes.set(false)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("could not delete")), msgs)
    // renames run before deletes: the failure leaves the superseded row
    // visible next to its replacement, and loses nothing
    def rows = spark.read.format("graftlines").load(p)
      .select("v").collect().map(_.getLong(0)).toSeq.sorted
    assert(rows == Seq(1L, 2L))
    // with deletes healthy again the same overwrite succeeds
    Seq(2L).toDF("v").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    assert(rows == Seq(2L))
  }

  test("a silently-failing DELETE fails a SQL delete that empties a file") {
    // a DELETE FROM matching every row of a file removes the file
    // outright: a quiet delete() == false must fail the statement, not
    // report success while the rows stay readable
    hconf.set("fs.glcopy.impl", classOf[CopyRenameFileSystem].getName)
    spark.conf.set("spark.sql.catalog.glcopy_del", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.glcopy_del.warehouse",
      s"glcopy:$root/faildel_sql")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS glcopy_del.ns")
    spark.sql("DROP TABLE IF EXISTS glcopy_del.ns.t")
    spark.sql("CREATE TABLE glcopy_del.ns.t (k BIGINT) USING graftlines")
    Seq(1L, 2L).toDF("k").coalesce(1).writeTo("glcopy_del.ns.t").append()
    CopyRenameFileSystem.failDataFileDeletes.set(true)
    val e = try intercept[Exception] {
      spark.sql("DELETE FROM glcopy_del.ns.t WHERE k < 10")
    } finally CopyRenameFileSystem.failDataFileDeletes.set(false)
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("could not delete")), msgs)
    assert(spark.table("glcopy_del.ns.t").count() == 2)
    // with deletes healthy again the same statement empties the table
    spark.sql("DELETE FROM glcopy_del.ns.t WHERE k < 10")
    assert(spark.table("glcopy_del.ns.t").count() == 0)
  }

  test("fs-mode committer on an arbitrated table fails loudly, commits nothing") {
    withCoordinator {
      val dir = s"glcopy:$root/pin_fs"
      markVersioned(dir)
      // the first arbitrated commit brands the table
      GraftLines.writeGen(dir, 1, Seq("part-a.gl"), hconf)
      val fs = new Path(dir).getFileSystem(hconf)
      assert(fs.exists(new Path(dir, GlCommitCoordinator.ArbiterMarker)),
        "the first arbitrated commit must write the table pin")
      // a committer whose conf lost the setting (the absent-conf fs
      // default — one misconfigured cluster/job/session) must fail
      // LOUDLY before publishing, not silently race the claims CAS
      val fsConf = new org.apache.hadoop.conf.Configuration(hconf)
      fsConf.unset(GlCommitCoordinator.ModeKey)
      fsConf.unset(GlCommitCoordinator.UrlKey)
      val e = intercept[IllegalStateException] {
        GraftLines.writeGen(dir, 2, Seq("part-rogue.gl"), fsConf)
      }
      assert(e.getMessage.contains("pinned") &&
        e.getMessage.contains(GlCommitCoordinator.ModeKey),
        s"the pin error must name the fix: $e")
      assert(!fs.exists(new Path(dir, s"${GraftLines.GenPrefix}2")),
        "the rogue committer must not publish anything")
      val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
      assert(!names.exists(_.endsWith(".tmp")),
        s"the rogue committer must not leave staging debris: ${names.toSeq}")
      // a correctly-configured committer proceeds normally
      GraftLines.writeGen(dir, 2, Seq("part-a.gl", "part-b.gl"), hconf)
      assert(manifestLines(dir, 2) == Seq("part-a.gl", "part-b.gl"))
    }
  }

  test("mixed-mode soak: fs-mode writers all fail loudly, arbitrated writers lose nothing") {
    withCoordinator {
      val dir = s"glcopy:$root/pin_soak"
      markVersioned(dir)
      GraftLines.writeGen(dir, 1, Seq("part-seed.gl"), hconf)
      val fsConf = new org.apache.hadoop.conf.Configuration(hconf)
      fsConf.unset(GlCommitCoordinator.ModeKey)
      fsConf.unset(GlCommitCoordinator.UrlKey)
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val rogueOutcomes =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fs = new Path(dir).getFileSystem(hconf)
      def nextGen: Int = {
        val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
        names.filter(_.startsWith(GraftLines.GenPrefix))
          .flatMap(_.stripPrefix(GraftLines.GenPrefix).toIntOption)
          .maxOption.getOrElse(0) + 1
      }
      val arbitrated = (0 until 4).map { i =>
        new Thread(() => {
          try {
            gate.await()
            var done = false
            var tries = 0
            while (!done) {
              tries += 1
              require(tries <= 40, s"arbitrated writer $i starved")
              try {
                GraftLines.writeGen(dir, nextGen, Seq(s"part-w$i.gl"), hconf)
                done = true
              } catch {
                case t: Throwable
                    if Option(t.getMessage).getOrElse("")
                      .contains("concurrent committers") => // retry
              }
            }
          } catch { case t: Throwable => failures.add(t) }
        })
      }
      val rogues = (0 until 2).map { i =>
        new Thread(() => {
          try {
            gate.await()
            GraftLines.writeGen(dir, nextGen + 10 + i,
              Seq(s"part-rogue$i.gl"), fsConf)
            failures.add(new AssertionError(
              s"rogue fs-mode writer $i committed against the pinned table"))
          } catch { case t: Throwable => rogueOutcomes.add(t) }
        })
      }
      (arbitrated ++ rogues).foreach(_.start()); gate.countDown()
      (arbitrated ++ rogues).foreach(_.join())
      assert(failures.isEmpty, s"soak failures: $failures")
      assert(rogueOutcomes.size == 2 && rogueOutcomes.toArray.forall {
        case t: Throwable => t.isInstanceOf[IllegalStateException] &&
          t.getMessage.contains("pinned")
      }, s"every fs-mode writer must fail with the pin error: $rogueOutcomes")
      // all four arbitrated appends landed, gap-free, nothing lost
      val gens = fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(_.startsWith(GraftLines.GenPrefix))
        .flatMap(_.stripPrefix(GraftLines.GenPrefix).toIntOption).sorted
      assert(gens.toSeq == (1 to 5).toSeq,
        s"generations must be 1..5 gap-free, got ${gens.toSeq}")
      val all = (1 to 5).flatMap(manifestLines(dir, _))
      (0 until 4).foreach(i => assert(all.contains(s"part-w$i.gl"),
        s"arbitrated writer $i's commit must have landed: $all"))
      assert(!all.exists(_.contains("rogue")),
        s"no rogue content may reach any manifest: $all")
    }
  }

  test("DSv2 writes respect the table pin end-to-end") {
    // the pin specs above drive writeGen directly; this one goes
    // through the REAL writer (df.write -> GraftLines.publish ->
    // writeGen), the path a misconfigured production job takes
    val p = s"glcopy:$root/pin_dsv2"
    markVersioned(p)
    withCoordinator {
      Seq(1L).toDF("v").coalesce(1)
        .write.format("graftlines").mode("append").save(p) // brands
    }
    // conf restored: this session is now the absent-conf fs default
    val e = intercept[Exception] {
      Seq(2L).toDF("v").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("pinned"),
      s"the DSv2 write must surface the pin error: ${msgs(e)}")
    assert(spark.read.format("graftlines").load(p)
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the rejected write must not change the table")
    withCoordinator {
      Seq(2L).toDF("v").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
      assert(spark.read.format("graftlines").load(p)
        .collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L))
    }
  }

  test("an unknown table pin refuses both modes; an empty pin reads as jdbc") {
    val dir = s"glcopy:$root/pin_unknown"
    markVersioned(dir)
    val fs = new Path(dir).getFileSystem(hconf)
    val m = new Path(dir, GlCommitCoordinator.ArbiterMarker)
    val w = new java.io.OutputStreamWriter(
      fs.create(m, true), java.nio.charset.StandardCharsets.UTF_8)
    try w.write("paxos\n") finally w.close()
    // fs mode: unknown pin refuses
    val e1 = intercept[IllegalStateException] {
      GraftLines.writeGen(dir, 1, Seq("part-a.gl"), hconf)
    }
    assert(e1.getMessage.contains("paxos"))
    // jdbc mode: unknown pin refuses too (neither holds that CAS)
    withCoordinator {
      val e2 = intercept[IllegalStateException] {
        GraftLines.writeGen(dir, 1, Seq("part-a.gl"), hconf)
      }
      assert(e2.getMessage.contains("paxos"))
    }
    // an EMPTY marker (brander died between create and write) still
    // reads as pinned-jdbc: the conservative side for fs committers
    fs.create(m, true).close()
    val e3 = intercept[IllegalStateException] {
      GraftLines.writeGen(dir, 1, Seq("part-a.gl"), hconf)
    }
    assert(e3.getMessage.contains("pinned"))
    withCoordinator {
      GraftLines.writeGen(dir, 1, Seq("part-a.gl"), hconf)
      assert(manifestLines(dir, 1) == Seq("part-a.gl"))
    }
  }

  test("an in-doubt claim above the newest manifest survives claim pruning and is recovered") {
    withCoordinator {
      // the pruneClaims contract (GlCommitCoordinator scaladoc): an
      // unresolved in-doubt claim always sits ABOVE the newest
      // manifest, so retention — which only drops generations whose
      // manifests it verified on disk — can never delete the one row
      // a future committer needs for recovery. Pin that argument.
      val dir = s"glcopy:$root/prune_indoubt"
      markVersioned(dir)
      (1 to 4).foreach(g =>
        GraftLines.writeGen(dir, g, Seq(s"part-$g.gl"), hconf))
      // in-doubt commit at gen 5: claim row + durable tmp, no manifest
      CopyRenameFileSystem.failManifestPublishes.set(true)
      try intercept[GlCommitInDoubtException] {
        GraftLines.writeGen(dir, 5, Seq("part-indoubt.gl"), hconf)
      } finally CopyRenameFileSystem.failManifestPublishes.set(false)
      // concurrent retention pass drops gens 1..2 and prunes their rows
      val (dropped, _) = GraftLines.expireVersions(dir, keepLast = 2, hconf)
      assert(dropped == Seq(1, 2))
      val fs = new Path(dir).getFileSystem(hconf)
      val c = DriverManager.getConnection(jdbcUrl)
      val tmpName = try {
        val rs = c.createStatement().executeQuery(
          "SELECT gen, tmp, complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(dir)}' ORDER BY gen")
        val rows = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getInt(1), r.getString(2), r.getInt(3))).toList
        assert(rows.map(_._1) == List(3, 4, 5),
          s"the prune must keep gens 3..4 and the in-doubt claim 5: $rows")
        assert(rows.last._3 == 0, "the in-doubt claim must stay unsealed")
        rows.last._2
      } finally c.close()
      assert(fs.exists(new Path(dir, tmpName)),
        "retention must not sweep the in-doubt claim's recovery bytes")
      // the next committer of gen 5 completes the in-doubt commit
      val e = intercept[IllegalArgumentException] {
        GraftLines.writeGen(dir, 5, Seq("part-other.gl"), hconf)
      }
      assert(e.getMessage.contains("concurrent committers"))
      assert(manifestLines(dir, 5) == Seq("part-indoubt.gl"),
        "recovery must land the in-doubt commit's bytes after the prune")
      GraftLines.writeGen(dir, 6, Seq("part-other.gl"), hconf)
      assert(manifestLines(dir, 6) == Seq("part-other.gl"))
    }
  }

  test("compaction and retention run arbitrated end-to-end on the copy-rename store") {
    withCoordinator {
      // the last writeGen caller not yet driven under the claims CAS:
      // COMPACT's snapshot-generation publish. Three small appends,
      // one compaction, one retention pass — every generation claimed
      // and sealed, claim rows pruned with their manifests, data intact
      val p = s"glcopy:$root/compact_arb"
      markVersioned(p)
      (1 to 3).foreach { i =>
        Seq(i.toLong).toDF("v").coalesce(1)
          .write.format("graftlines").mode("append").save(p)
      }
      val (before, after) = GraftLines.compact(p, 1, spark)
      assert(before == 3 && after == 1, s"compact $before -> $after")
      assert(spark.read.format("graftlines").load(p)
        .collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 3L),
        "compaction must preserve every row")
      val c = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT gen, complete FROM gl_commits " +
            s"WHERE dir = '${claimKey(p)}' ORDER BY gen")
        val claims = Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getInt(1), r.getInt(2))).toList
        assert(claims.map(_._1) == List(1, 2, 3, 4) &&
          claims.forall(_._2 == 1),
          s"compact's generation must be claimed + sealed too: $claims")
      } finally c.close()
      // retention drops the pre-compaction generations AND their rows
      val (dropped, _) = GraftLines.expireVersions(p, keepLast = 1, hconf)
      assert(dropped == Seq(1, 2, 3))
      val c2 = DriverManager.getConnection(jdbcUrl)
      try {
        val rs = c2.createStatement().executeQuery(
          "SELECT gen FROM gl_commits " +
            s"WHERE dir = '${claimKey(p)}' ORDER BY gen")
        val left = Iterator.continually(rs).takeWhile(_.next())
          .map(_.getInt(1)).toList
        assert(left == List(4), s"claim retention must track manifests: $left")
      } finally c2.close()
      assert(spark.read.format("graftlines").load(p)
        .collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 3L))
    }
  }

  test("jdbc mode without a URL, and unknown modes, fail loudly at commit time") {
    hconf.set(GlCommitCoordinator.ModeKey, "jdbc")
    hconf.unset(GlCommitCoordinator.UrlKey)
    try {
      val e = intercept[IllegalArgumentException] {
        GlCommitCoordinator.forConf(hconf)
      }
      assert(e.getMessage.contains(GlCommitCoordinator.UrlKey))
      hconf.set(GlCommitCoordinator.ModeKey, "zookeeper")
      val e2 = intercept[IllegalArgumentException] {
        GlCommitCoordinator.forConf(hconf)
      }
      assert(e2.getMessage.contains("zookeeper"),
        "a typo'd mode must not silently fall back to best-effort fs")
    } finally hconf.unset(GlCommitCoordinator.ModeKey)
  }
}
