package graft.sources

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Object-store-safe generation-commit arbitration for graftlines
  * (r11 VERDICT #1).
  *
  * The default publish protocol CASes on the FILESYSTEM: link(2) on
  * local mounts, atomic no-clobber rename on HDFS. Object-store
  * connectors (S3A, GCS) implement rename as a client-side
  * exists-check + copy, so the filesystem CAS silently degrades to
  * best-effort — two committers that both computed generation `n` can
  * last-writer-win and LOSE a commit. This coordinator moves the CAS
  * off the filesystem into an external arbiter with a real atomic
  * primitive: a JDBC table with a `(dir, gen)` primary key, the same
  * shape as the public Delta-on-S3 answer (a DynamoDB conditional PUT
  * arbitrating `(tablePath, version)`), reachable from any committer.
  * The key is the FULLY QUALIFIED table path (`fs.makeQualified`), so
  * equivalent spellings — trailing slash, scheme-relative — cannot
  * bypass the CAS by claiming under different strings.
  *
  * Protocol (per generation publish; the manifest tmp file is already
  * fully written and durable before this runs):
  *
  *   1. CLAIM: `INSERT (dir, gen, tmp, complete=0)` — the primary key
  *      makes exactly one committer win generation `gen`. The claim
  *      records the winner's tmp MANIFEST NAME and is PERMANENT (never
  *      rolled back): from this instant, generation `gen` IS those
  *      bytes, which is what makes every later step clobber-safe —
  *      anyone who publishes `gen` publishes the same recorded bytes,
  *      so racing copies are idempotent, never lost commits, and no
  *      fencing between a publisher and a recoverer is needed.
  *   2. PUBLISH: rename tmp -> final manifest name (exclusive by the
  *      claim; even a copy-implemented rename is safe). If the rename
  *      fails and nobody has published yet, fall back to a staged COPY
  *      of the same bytes; only if that also fails is the commit IN
  *      DOUBT (see below).
  *   3. SEAL: `UPDATE complete=1`, then best-effort delete of the tmp.
  *
  * A LOSING claim (PK conflict) reads the winning row:
  *   - manifest on disk, or `complete=1`: a normal lost race — the
  *     loud "concurrent committers" error the callers' retry loops
  *     already handle (recompute the next generation, restage, retry).
  *   - manifest missing and `complete=0`: the winner crashed (or is
  *     slow) between claim and publish. RECOVER: copy the RECORDED tmp
  *     (durable, complete at claim time) to the final name, seal the
  *     row, then fail loudly anyway — the loser's own commit content
  *     must retry at `gen + 1`. Recovery completes the claimed commit,
  *     exactly like Delta's "fix the log" pass; a slow winner whose
  *     rename then finds the manifest in place reports SUCCESS (its
  *     bytes are what landed — anything else would double-append).
  *
  * Crash matrix: claim+crash -> recovered by the next conflicting
  * committer (identical bytes, any number of racing recoverers).
  * Publish+crash-before-seal -> manifest exists; conflicters see it,
  * seal opportunistically, and fail loudly. Rename AND copy both fail
  * with no manifest (store outage) -> [[GlCommitInDoubtException]]:
  * the claim and its tmp bytes are LEFT IN PLACE and the next
  * committer completes the commit when the store recovers — the
  * caller must treat the append as possibly-committed (the standard
  * in-doubt outcome of every arbitrated commit protocol), not blindly
  * re-append.
  *
  * Selection is per-table-commit via Hadoop conf (set
  * `spark.hadoop.*` on the session or per-op): {{{
  *   graft.lines.commit.coordinator = fs | jdbc      (default fs)
  *   graft.lines.commit.jdbc.url    = jdbc:...       (required for jdbc)
  *   graft.lines.commit.jdbc.driver = <class>        (optional)
  * }}}
  * `fs` is today's filesystem CAS — correct on local mounts and HDFS.
  * `jdbc` is for stores without an atomic no-clobber rename; in
  * production the URL points at a shared database (the one system of
  * record a 1000-executor deployment already has: its catalog), and
  * only the DRIVER connects — generation publish is a per-job-commit,
  * driver-side event, so the arbiter sees O(commits) traffic, never
  * O(tasks). Mixing arbitrated and fs-mode committers on one table is
  * undefined by contract (the arbiter cannot see fs-mode publishes).
  *
  * The claims table grows one row per committed generation — the same
  * O(generations) metadata the manifests themselves already cost; a
  * deployment that prunes old generations with expireVersions can
  * prune SEALED claim rows below the retention floor on the same
  * schedule (generation numbers are monotone, so a pruned generation
  * is never recomputed and its row is never consulted again).
  */
private[sources] object GlCommitCoordinator {

  val ModeKey = "graft.lines.commit.coordinator"
  val UrlKey = "graft.lines.commit.jdbc.url"
  val DriverKey = "graft.lines.commit.jdbc.driver"

  /** Table-scoped arbitration pin. Mode selection alone is CONF-scoped,
    * and "mixing arbitrated and fs-mode committers on one table is
    * undefined" as documentation only protects deployments with zero
    * misconfigured writers: a single session/job/cluster missing the
    * conf silently commits through the filesystem CAS against an
    * object-store table and reopens exactly the lost-commit window the
    * arbiter exists to close (the Delta `delta.logStore`-mismatch
    * hazard class). So the FIRST arbitrated commit brands the table
    * with this marker (beside `_graft_schema`/`_graft_version`), and
    * every later generation publish re-checks it: an fs-mode committer
    * on a branded table fails LOUDLY before staging anything. Demoting
    * a table back to fs mode is a deliberate manual act (delete the
    * marker), never a default. */
  val ArbiterMarker = "_graft_arbiter"

  /** The mode the table itself is pinned to, if any: the marker's
    * first line ("jdbc" today). An EMPTY marker ([[brand]] never
    * publishes one, a manual `touch` does) still reads as pinned-jdbc
    * — the conservative side, since only arbitrated commits ever
    * create it.
    * A FAILING probe fails the commit: reading an outage as "unpinned"
    * would wave an fs-mode committer through on a pinned table, which
    * is the exact lost-commit hazard the marker exists to block. */
  private def pinnedMode(fs: FileSystem, m: Path): Option[String] = {
    val present = try fs.exists(m) catch {
      case e: Exception => throw new java.io.IOException(
        s"graftlines: cannot probe the arbitration marker $m — failing " +
          "the commit rather than guess the table's coordinator mode", e)
    }
    if (!present) return None
    val in = fs.open(m)
    try {
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      Option(br.readLine()).map(_.trim).filter(_.nonEmpty).orElse(Some("jdbc"))
    } finally in.close()
  }

  /** Brand the table as arbitrated, create-once ([[GlMetaFile]]).
    * Racing branders write identical constant bytes, so a failed
    * publish with the marker present is success; a failed publish with
    * NO marker fails the commit — publishing unbranded would leave
    * every future fs-mode committer unwarned, which is the hazard the
    * marker closes. */
  private def brand(fs: FileSystem, m: Path): Unit = {
    try GlMetaFile.createOnce(fs, m, Seq("jdbc"))
    catch {
      case e: java.io.IOException =>
        val present = try fs.exists(m) catch { case _: Exception => false }
        if (!present) throw new java.io.IOException(
          s"graftlines: could not write the arbitration marker $m — " +
            "failing the commit rather than leave the table unpinned " +
            "(a later fs-mode committer would silently race the arbiter)", e)
    }
  }

  /** Called by every generation publish, BEFORE any staging I/O.
    * `arbitrated` = this committer resolved a coordinator from its
    * conf. Cross-checks committer mode against the table's pin. */
  def enforceTableMode(fs: FileSystem, dir: String,
      arbitrated: Boolean): Unit = {
    val m = new Path(dir, ArbiterMarker)
    pinnedMode(fs, m) match {
      case None =>
        if (arbitrated) brand(fs, m)
      case Some("jdbc") =>
        if (!arbitrated) throw new IllegalStateException(
          s"graftlines: table $dir is pinned to the 'jdbc' commit " +
            s"coordinator by $m, but this committer is running the " +
            s"default filesystem CAS ($ModeKey unset or fs) — " +
            "committing would reopen the lost-commit window the " +
            s"arbiter closes on object stores; set $ModeKey=jdbc " +
            s"(+ $UrlKey) on this writer, or to deliberately demote " +
            s"the table delete $m first")
      case Some(other) =>
        // a pin this build does not know (newer format, corruption):
        // NEITHER mode may assume it holds the CAS
        throw new IllegalStateException(
          s"graftlines: table $dir pins unknown commit-coordinator " +
            s"mode '$other' in $m — refusing to commit (upgrade this " +
            "writer, or repair the marker)")
    }
  }

  /** The arbitrated publisher for `conf`, or None for the default
    * filesystem-CAS path. An unknown mode fails loudly — silently
    * falling back to `fs` on a typo would hand an object-store table
    * exactly the lost-commit window the setting exists to close. */
  def forConf(conf: Configuration): Option[JdbcCoordinator] =
    conf.get(ModeKey, "fs") match {
      case "fs" => None
      case "jdbc" =>
        val url = conf.get(UrlKey)
        require(url != null && url.nonEmpty,
          s"graftlines: $ModeKey=jdbc requires $UrlKey")
        Some(new JdbcCoordinator(url, Option(conf.get(DriverKey))))
      case other =>
        throw new IllegalArgumentException(
          s"graftlines: unknown $ModeKey '$other' (expected fs or jdbc)")
    }

  /** URLs whose gl_commits table is known usable — the per-commit DDL
    * probe runs once per JVM per database, not once per publish. */
  private[sources] val ensured =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** The commit reached the arbiter (the claim is recorded, its bytes
  * are durable) but the manifest could not be published and the
  * outcome is not yet visible: the next committer WILL complete it.
  * Callers must not treat this as a clean failure — re-appending the
  * same rows double-commits once the store recovers. */
final class GlCommitInDoubtException(msg: String, cause: Throwable)
  extends java.io.IOException(msg, cause)

private[sources] final class JdbcCoordinator(url: String,
    driver: Option[String]) {

  private def connect(): Connection = {
    driver.foreach(Class.forName)
    DriverManager.getConnection(url)
  }

  /** Cleanup that must never supersede the outcome already decided —
    * a `ps.close()` throwing on a dead connection would replace a
    * successful claim (or a deliberate in-doubt classification) with
    * a plain SQLException that writeGen treats as a definite failure. */
  private def quietly(f: => Unit): Unit =
    try f catch { case _: Exception => () }

  /** 23505 is the SQL-standard unique-violation SQLState (Derby,
    * Postgres, H2); fall back to the JDBC exception subclass for
    * drivers that subclass instead. */
  private def isDup(e: SQLException): Boolean =
    "23505" == e.getSQLState ||
      e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException]

  /** Create-if-absent, once per JVM per database URL. A failed CREATE
    * is fine as long as the table is USABLE (probe) — a least-
    * privilege DML-only user on a pre-created production table gets a
    * permission error here, not "already exists", and must still
    * commit. If the probe also fails, the original failure surfaces. */
  private def ensureTable(c: Connection): Unit = {
    if (GlCommitCoordinator.ensured.contains(url)) return
    val st = c.createStatement()
    try {
      try st.executeUpdate(
        "CREATE TABLE gl_commits (" +
          "dir VARCHAR(1024) NOT NULL, gen INT NOT NULL, " +
          "tmp VARCHAR(256) NOT NULL, complete INT NOT NULL, " +
          "PRIMARY KEY (dir, gen))")
      catch {
        case e: SQLException =>
          val probe = c.createStatement()
          try probe.executeQuery(
            "SELECT dir, gen, tmp, complete FROM gl_commits WHERE 1 = 0")
            .close()
          catch { case _: SQLException => throw e }
          finally probe.close()
      }
      GlCommitCoordinator.ensured.add(url)
    } finally st.close()
  }

  /** The claim CAS, with the ambiguous-ack case resolved: a
    * non-duplicate SQLException from the INSERT (connection dropped
    * between the server applying the row and the client hearing back —
    * the classic in-doubt write) is VERIFIED by re-reading the row,
    * first on the same connection and, if that connection is the
    * casualty, once more on a FRESH one (in the motivating TCP-reset
    * case the same-connection read always fails, and a reconnect
    * resolves the commit normally instead of punting to a human).
    * Our tmp recorded -> the claim landed, we won; someone else's ->
    * we lost. No row visible, or verify unreachable -> in-doubt with
    * the tmp kept: on a direct single-session connection an absent
    * row means the INSERT failed, but behind a pooler/HA proxy the
    * statement can still complete server-side AFTER the verify read —
    * re-throwing a plain error there would sweep the tmp a
    * late-landing claim records, wedging the generation. The
    * conservative cost is one orphaned `.tmp` when the INSERT truly
    * failed (the original cause rides along in the exception). */
  private def claimed(c: Connection, key: String, n: Int,
      tmp: Path): Boolean = {
    val ps = c.prepareStatement(
      "INSERT INTO gl_commits (dir, gen, tmp, complete) VALUES (?, ?, ?, 0)")
    try { ps.setString(1, key); ps.setInt(2, n)
      ps.setString(3, tmp.getName); ps.executeUpdate(); true }
    catch {
      case e: SQLException if isDup(e) => false
      case e: SQLException =>
        val row: Option[Option[(String, Boolean)]] =
          (try Some(recordedTmp(c, key, n))
          catch { case _: SQLException => None }).orElse {
            try {
              val c2 = connect()
              try Some(recordedTmp(c2, key, n))
              finally quietly(c2.close())
            } catch { case _: Exception => None }
          }
        row match {
          case Some(Some((t, _))) if t == tmp.getName => true
          case Some(Some(_)) => false
          case _ =>
            throw new GlCommitInDoubtException(
              s"graftlines: the claim INSERT for generation $n of " +
                s"$key failed without a visible claim row (cause " +
                "attached); on a direct connection the claim did not " +
                "land, but behind a pooler it may still complete — " +
                s"the tmp ${tmp.getName} is left in place and a " +
                "late-landing claim will be recovered by the next " +
                "committer; treat the append as possibly-committed, " +
                "do not blindly re-append", e)
        }
    }
    finally quietly(ps.close())
  }

  private def recordedTmp(c: Connection, key: String, n: Int)
      : Option[(String, Boolean)] = {
    val ps = c.prepareStatement(
      "SELECT tmp, complete FROM gl_commits WHERE dir = ? AND gen = ?")
    try { ps.setString(1, key); ps.setInt(2, n)
      val rs = ps.executeQuery()
      try if (rs.next()) Some((rs.getString(1), rs.getInt(2) == 1))
      else None
      finally rs.close()
    } finally ps.close()
  }

  private def seal(c: Connection, key: String, n: Int): Unit = {
    val ps = c.prepareStatement(
      "UPDATE gl_commits SET complete = 1 WHERE dir = ? AND gen = ?")
    try { ps.setString(1, key); ps.setInt(2, n); ps.executeUpdate() }
    finally ps.close()
  }

  private def lostRace(p: Path, detail: String): Nothing =
    throw new IllegalArgumentException(
      s"graftlines: lost the commit-coordinator claim for generation " +
        s"manifest $p ($detail) — concurrent committers race on the " +
        "generation number; retry at the next generation")

  /** Bytes of `src` republished under `dst` with object-store-PUT
    * visibility: staged to a publisher-unique name first, then one
    * rename — `dst` appears complete or not at all, and `src` is NOT
    * consumed (racing publishers each stage their own copy of the
    * same claim-recorded bytes, so whoever lands last lands the same
    * content). A false rename means someone else already published —
    * success, by identical bytes. */
  private def copyPublish(fs: FileSystem, src: Path, dst: Path): Unit = {
    val staged = new Path(dst.getParent,
      dst.getName + "." + java.util.UUID.randomUUID().toString + ".tmp")
    val in = fs.open(src)
    try {
      val out = fs.create(staged, true)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      finally out.close()
    } finally in.close()
    try { if (!fs.rename(staged, dst)) require(fs.exists(dst)) }
    finally { try fs.delete(staged, false) catch { case _: Exception => () } }
  }

  /** Retire the claim rows of expired generations — called by
    * expireVersions on the same schedule that deletes their manifests,
    * and ONLY for generations whose manifests it just verified on disk
    * (its `drop` list comes from the directory's generation listing).
    * A verified-published generation is history whether or not its
    * winner lived to seal it, so no `complete` filter: filtering on
    * sealed would leak one unprunable row per crash-between-publish-
    * and-seal that no conflicter ever raced. One range DELETE (the
    * drop list is the ascending prefix of the existing generations,
    * and an unresolved in-doubt claim is always ABOVE the newest
    * manifest — commits cannot advance past it — so it can never sit
    * below the retention floor). */
  def pruneClaims(fs: FileSystem, dir: String, gens: Seq[Int]): Unit = {
    if (gens.isEmpty) return
    val key = fs.makeQualified(new Path(dir)).toString
    val c = connect()
    try {
      val ps = c.prepareStatement(
        "DELETE FROM gl_commits WHERE dir = ? AND gen <= ?")
      try { ps.setString(1, key); ps.setInt(2, gens.max); ps.executeUpdate() }
      finally ps.close()
    } finally { try c.close() catch { case _: Exception => () } }
  }

  /** Publish `tmp` as generation manifest `p`, arbitrated through the
    * claims table. Throws the loud "concurrent committers" error on a
    * lost race (after recovering a crashed winner's publish if there
    * is one to recover), and [[GlCommitInDoubtException]] when the
    * claim is placed but no publish could land (the caller's tmp must
    * then be LEFT IN PLACE — it is the recovery source). */
  def publish(fs: FileSystem, dir: String, n: Int, tmp: Path,
      p: Path): Unit = {
    // canonical arbitration key: equivalent spellings of one physical
    // directory must collide in the claims table, not bypass it
    val key = fs.makeQualified(new Path(dir)).toString
    val c = connect()
    try {
      c.setAutoCommit(true)
      ensureTable(c)
      if (claimed(c, key, n, tmp)) {
        // The claim is ours and PERMANENT: generation n is now defined
        // as tmp's bytes, and from here EVERY outcome must resolve to
        // either confirmed-success or in-doubt — never a plain throw,
        // because a plain throw makes writeGen sweep the tmp that the
        // claim records as the recovery source (wedging the
        // generation) and makes the caller re-append rows that may
        // have landed (double commit).
        //
        // Publish by rename; if the destination turns out to exist, a
        // racing conflicter recovered OUR claim with OUR bytes —
        // success either way. Probes that themselves fail (an
        // object-store exists() can 503 mid-outage) count as
        // not-confirmed, never as a raw error.
        def confirmed: Boolean =
          try fs.exists(p) catch { case _: Throwable => false }
        val renamed =
          try fs.rename(tmp, p)
          catch { case _: Throwable => false }
        if (!renamed && !confirmed) {
          // rename unavailable (some stores) or transiently failing:
          // complete our own claim by staged copy of the same bytes.
          // A failure here with the manifest in place is the slow-
          // winner-recovered-by-a-racer case (our tmp may even be
          // swept already): success, by identical bytes.
          try copyPublish(fs, tmp, p)
          catch {
            case t: Throwable =>
              if (!confirmed) throw new GlCommitInDoubtException(
                s"graftlines: generation $n of $key is CLAIMED but the " +
                  s"manifest $p could not be published; the claim and " +
                  s"its recorded tmp ${tmp.getName} are left in place " +
                  "and the next committer will complete this commit — " +
                  "treat the append as possibly-committed, do not " +
                  "blindly re-append", t)
          }
        }
        // manifest confirmed: the seal and the tmp sweep are both
        // BEST-EFFORT (conflicters seal opportunistically, the tmp is
        // dead weight once p exists) — failing the commit for either
        // would be a phantom failure the caller turns into duplicates
        try seal(c, key, n) catch { case _: Exception => () }
        try { if (fs.exists(tmp)) fs.delete(tmp, false) }
        catch { case _: Exception => () }
      } else {
        // lost the claim: recover a crashed winner first, then fail
        // loudly — our own commit content must retry at the next gen
        recordedTmp(c, key, n) match {
          case Some((_, true)) => lostRace(p, "generation already sealed")
          case Some((winnerTmp, false)) =>
            if (!fs.exists(p)) {
              val src = new Path(p.getParent, winnerTmp)
              // the copy can fail mid-flight if the (merely slow, not
              // crashed) winner publishes and sweeps its tmp under us —
              // then p exists and recovery is moot, not an error
              try { if (fs.exists(src)) copyPublish(fs, src, p) }
              catch { case t: Throwable => if (!fs.exists(p)) throw t }
              require(fs.exists(p),
                s"graftlines: generation $n of $key is claimed but its " +
                  s"recorded tmp manifest $winnerTmp is gone — " +
                  "unrecoverable claim; clear the gl_commits row after " +
                  "confirming no committer is alive")
            }
            // seal opportunistically (the winner may have crashed
            // between publish and seal) — BEST-EFFORT, like the
            // winner's: the manifest is in place, so a seal error here
            // must still surface as the contractual loud lost-race
            // signal, not a raw SQLException; best-effort tmp sweep
            quietly(seal(c, key, n))
            quietly { val src = new Path(p.getParent, winnerTmp)
              if (fs.exists(src)) fs.delete(src, false) }
            lostRace(p, "generation claimed and recovered")
          case None =>
            // the row vanished between our INSERT failure and the
            // read — only external surgery deletes claim rows, but the
            // loss itself is real and retryable either way
            lostRace(p, "claim row no longer present")
        }
      }
    } finally { try c.close() catch { case _: Exception => () } }
  }
}
