package graft.sources

import java.io.{IOException, OutputStream}
import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** Test shim: local disk under the `glmeta` scheme with injectable
  * faults on named files. Its scheme is not `file`, so [[GlMetaFile]]
  * publishes here by rename, as on a non-POSIX store.
  *
  * Registered per test via `fs.glmeta.impl`; paths look like
  * `glmeta:/abs/local/path`. Clear the faults in a `finally`. */
class MetaFaultFileSystem extends RawLocalFileSystem {

  override def getScheme: String = "glmeta"
  override def getUri: URI = URI.create("glmeta:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (MetaFaultFileSystem.failRenamesOnto.get.contains(dst.getName)) false
    else super.rename(src, dst)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
    if (!MetaFaultFileSystem.failWritesOf.get.exists(f.getName.startsWith))
      out
    else new FSDataOutputStream(new OutputStream {
      // the file is created, then its first write fails: what a crash
      // or a full disk leaves of an in-place write
      override def write(b: Int): Unit = fail()
      override def write(b: Array[Byte], off: Int, len: Int): Unit = fail()
      override def close(): Unit = out.close()
      private def fail(): Nothing = {
        out.close()
        throw new IOException(s"simulated write outage on $f")
      }
    }, null)
  }
}

object MetaFaultFileSystem {
  /** Base names every rename onto fails (returns false). */
  val failRenamesOnto = new AtomicReference(Set.empty[String])

  /** Name prefixes whose created files fail their first write. */
  val failWritesOf = new AtomicReference(Set.empty[String])
}
