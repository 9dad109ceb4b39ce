package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The `file:` scheme resolves to graft's fork-free local filesystem,
  * which starts no process for the writes a streaming micro-batch makes
  * and answers exactly as Hadoop's `RawLocalFileSystem` does. */
class LocalFsSpec extends AnyFunSuite {

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("a plain Configuration resolves file: to the graft classes") {
    val fs = FileSystem.get(URI.create("file:///"), new Configuration())
    assert(fs.getClass == classOf[GraftLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[GraftRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem
      .getClass == classOf[GraftLocalFs])
  }

  test("checkpoint, create, mkdirs and setPermission start no process") {
    val conf = new Configuration()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    def writes(root: NioPath): Unit = {
      val offsets = new Path(root.toString, "ckpt/offsets")
      val fm = CheckpointFileManager.create(offsets, conf)
      fm.mkdirs(offsets)
      val out = fm.createAtomic(new Path(offsets, "0"), false)
      out.write("v1\n{}\n".getBytes("UTF-8"))
      out.close()
      fs.create(new Path(root.toString, "data/part-0")).close()
      fs.mkdirs(new Path(root.toString, "state/0"), perm("750"))
      fs.setPermission(new Path(root.toString, "data/part-0"), perm("640"))
    }
    // class initialisation (Hadoop's Shell probes setsid) stays outside
    writes(Files.createTempDirectory("localfs_warm"))
    val dir = Files.createTempDirectory("localfs_jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try writes(dir) finally rec.stop()
    val dump = dir.resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    assert(Files.exists(dir.resolve("ckpt/offsets/0")))
    // Spark's own GC-timed `rm -rf` cleanups carry no Hadoop fs frame
    val forks = RecordingFile.readAllEvents(dump).asScala.filter { e =>
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.fs"))
    }
    assert(forks.isEmpty, forks.map(_.getString("command")).mkString("; "))
  }

  test("setPermission sets the same modes as Hadoop's local filesystem") {
    val dir = Files.createTempDirectory("localfs_perm")
    val ours = raw(new GraftRawLocalFileSystem)
    val hadoop = raw(new RawLocalFileSystem)
    def modes(fs: RawLocalFileSystem, name: String, octal: String,
        isDir: Boolean): Int = {
      val p = dir.resolve(name)
      if (isDir) Files.createDirectory(p) else Files.createFile(p)
      fs.setPermission(new Path(p.toString), perm(octal))
      mode(p)
    }
    for (octal <- Seq("600", "644", "700", "755")) {
      val m = modes(ours, s"ours_$octal", octal, isDir = false)
      assert(m == Integer.parseInt(octal, 8), octal)
      assert(m == modes(hadoop, s"hadoop_$octal", octal, isDir = false), octal)
    }
    // the sticky bit keeps Hadoop's chmod
    val sticky = modes(ours, "ours_1777", "1777", isDir = true)
    assert(sticky == Integer.parseInt("1777", 8))
    assert(sticky == modes(hadoop, "hadoop_1777", "1777", isDir = true))
  }

  test("getFileLinkStatus answers as Hadoop's local filesystem") {
    val dir = Files.createTempDirectory("localfs_link")
    val file = Files.write(dir.resolve("f"), "x".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val ours = raw(new GraftRawLocalFileSystem)
    val hadoop = raw(new RawLocalFileSystem)
    def shape(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory,
      s.isSymlink, s.getLen, s.getModificationTime, s.getPermission)
    for (p <- Seq(file, sub).map(q => new Path(q.toString)))
      assert(shape(ours.getFileLinkStatus(p)) ==
        shape(hadoop.getFileLinkStatus(p)), p)
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
    val l = new Path(link.toString)
    val (o, h) = (ours.getFileLinkStatus(l), hadoop.getFileLinkStatus(l))
    assert(o.isSymlink && h.isSymlink)
    assert(o.getSymlink == h.getSymlink)
    assert(o.getSymlink.toUri.getPath == file.toString)
  }
}
