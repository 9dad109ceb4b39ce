package graft.sources

import java.io.{IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}

/** The one publish step of every graftlines metadata file: generation
  * manifests ([[GraftLines.writeGen]]), the stats manifest
  * ([[GraftLines.mergeStats]]), the catalog's `_graft_schema`
  * ([[GraftCatalog]]), the key markers ([[GlKey.writeKey]]) and the
  * arbitration pin ([[GlCommitCoordinator]]).
  *
  * Invariant: a metadata file is never written in place. Its lines go
  * in full to a writer-unique tmp name beside it (`<name>.<uuid>.tmp`,
  * so racing writers never touch each other's in-flight bytes), and one
  * publish step makes them visible. A reader, a racer or a crash sees
  * the old file or the new one complete, never an empty or half-written
  * one (a truncated stats line parses as a wrong min/max, an empty key
  * marker reads as "unkeyed", an empty schema strands the table).
  *
  *  - [[createOnce]]: the publish fails with a
  *    [[FileAlreadyExistsException]] if the target exists — the
  *    compare-and-swap of a generation number, a CREATE TABLE, a key
  *    marker. On `file:` it hard-links the tmp to the target: link(2)
  *    creates it complete and fails atomically if it exists, where
  *    POSIX rename would clobber; the `.crc` sidecar is carried along.
  *    Elsewhere it renames: HDFS fails a rename onto an existing path
  *    in the NameNode, but object stores (S3A, GCS) rename by
  *    exists-check + copy, a window the last-instant exists check only
  *    narrows. Such tables serialize writers through the catalog, or
  *    pass `publish` to hand the staged tmp to another arbiter (the
  *    JDBC claims table, [[GlCommitCoordinator.publish]]).
  *  - [[replace]]: the new bytes take the target's place. On `file:`
  *    that is one atomic POSIX move, so no instant leaves the file
  *    absent. Elsewhere the old copy is deleted and the tmp renamed,
  *    the rename retried once; once the delete has succeeded the tmp is
  *    the only copy, so a rename that still fails KEEPS it and names it
  *    in the error.
  *
  * Any other failure removes the tmp and rethrows (an in-doubt arbiter
  * publish keeps it: the claim records it as the recovery source). The
  * caller decides what a failure means: a generation, schema or key
  * fails its statement, the stats manifest is best-effort.
  *
  * Stats invariant: after the next successful commit a table holds one
  * `_graft_stats` and no `_graft_stats.*.tmp`. A `replace` that KEPT
  * its tmp leaves it for that commit's [[GraftLines.mergeStats]], which
  * deletes every stats tmp it listed before staging its own once its
  * publish succeeds. A concurrent merge that loses its in-flight tmp
  * this way fails its publish, and the table reads as "no stats" (scan
  * every file) until the next commit, never as a wrong skip. */
private[sources] object GlMetaFile {

  /** Publishes `lines` as `p`, failing if `p` exists. */
  def createOnce(fs: FileSystem, p: Path, lines: Seq[String],
      publish: Option[Path => Unit] = None): Unit = {
    val tmp = stage(fs, p, lines)
    try {
      // the last instant before the publish: a racer may have published
      // while the tmp was written
      if (fs.exists(p)) throw taken(p)
      publish match {
        case Some(arbiter) => arbiter(tmp)
        case None if isLocal(fs) && linked(fs, tmp, p) =>
          // the target is published: what follows is best-effort
          carryCrc(fs, tmp, p)
          quietly(fs.delete(tmp, false))
        case None =>
          if (!fs.rename(tmp, p))
            throw (if (fs.exists(p)) taken(p)
              else new IOException(s"graftlines: failed publishing $p"))
      }
    } catch {
      case d: GlCommitInDoubtException => throw d
      case t: Throwable => quietly(fs.delete(tmp, false)); throw t
    }
  }

  /** Publishes `lines` as `p`, replacing the copy already there. */
  def replace(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val tmp = stage(fs, p, lines)
    if (isLocal(fs) && moved(fs, tmp, p)) return
    try {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new IOException(s"graftlines: failed publishing $p")
    } catch { case t: Throwable =>
      if (!(try fs.rename(tmp, p) catch { case _: Exception => false })) {
        if (try fs.exists(p) catch { case _: Exception => false }) {
          quietly(fs.delete(tmp, false))
          throw t
        }
        throw new IOException(s"graftlines: failed publishing $p and the " +
          s"old copy is already deleted — the staged copy $tmp is the " +
          s"only surviving copy and was KEPT; restore it by renaming it " +
          s"onto $p", t)
      }
      // the retry landed the same staged bytes: published after all
    }
  }

  private def stage(fs: FileSystem, p: Path, lines: Seq[String]): Path = {
    val tmp = new Path(p.getParent,
      p.getName + "." + java.util.UUID.randomUUID().toString + ".tmp")
    try {
      val w = new OutputStreamWriter(fs.create(tmp, true), UTF_8)
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    } catch { case t: Throwable => quietly(fs.delete(tmp, false)); throw t }
    tmp
  }

  private def taken(p: Path) =
    new FileAlreadyExistsException(s"graftlines: $p already exists")

  /** Non-throwing local-scheme probe: FileSystem.getScheme's base
    * implementation THROWS, so a third-party FS that does not override
    * it takes the portable rename path instead of failing. */
  private def isLocal(fs: FileSystem): Boolean =
    try "file" == fs.getUri.getScheme catch { case _: Exception => false }

  private def nio(fs: FileSystem, q: Path) =
    java.nio.file.Paths.get(fs.makeQualified(q).toUri.getPath)

  private def crc(q: Path) = new Path(q.getParent, "." + q.getName + ".crc")

  /** link(2) `tmp` to `p`. False ONLY when the mount has no hard links
    * (the rename fallback then runs); any other I/O error is rethrown,
    * since falling back to the clobbering rename on a transient error
    * would reopen the lost-commit window link(2) closes. */
  private def linked(fs: FileSystem, tmp: Path, p: Path): Boolean =
    try { java.nio.file.Files.createLink(nio(fs, p), nio(fs, tmp)); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => throw taken(p)
      case _: UnsupportedOperationException => false
      case e: java.nio.file.FileSystemException
          // ENOTSUP/EPERM are how linkless mounts (some FUSE/network
          // local mounts) surface
          if Option(e.getReason).exists(r =>
            r.contains("not supported") || r.contains("not permitted")) =>
        false
    }

  /** Atomic POSIX move of `tmp` onto `p`, ordered around the `.crc`
    * sidecars so every intermediate state reads: the stale sidecar goes
    * first (no sidecar reads unverified, a stale one fails every read),
    * then the move, then the new sidecar. False when the move cannot
    * run; after it succeeds there is no falling back. */
  private def moved(fs: FileSystem, tmp: Path, p: Path): Boolean = {
    try {
      fs.delete(crc(p), false)
      java.nio.file.Files.move(nio(fs, tmp), nio(fs, p),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Exception => return false }
    carryCrc(fs, tmp, p)
    true
  }

  /** Best-effort: a missing sidecar leaves `p` readable (unverified); a
    * staged sidecar left behind would be debris no sweep matches. */
  private def carryCrc(fs: FileSystem, tmp: Path, p: Path): Unit =
    try { if (!fs.rename(crc(tmp), crc(p))) fs.delete(crc(tmp), false) }
    catch { case _: Exception => quietly(fs.delete(crc(tmp), false)) }

  private def quietly(f: => Any): Unit =
    try f catch { case _: Throwable => () }
}
