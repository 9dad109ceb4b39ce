package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTmp

/** The replace-mode publish of [[GlMetaFile]] off `file:` (the ALTER
  * path of `_graft_schema` on non-POSIX stores): after `fs.delete(sf)`
  * succeeds, the staged tmp is the ONLY surviving copy of the schema. A
  * failed rename must never sweep it — that would strand the table
  * permanently (tableExists false, loadTable fails, manual
  * reconstruction from data-file headers the only recovery). */
class GraftCatalogFallbackSpec extends AnyFunSuite {

  /** Local-disk FS with injectable failures on the schema file. Its
    * scheme is not `file`, so the publish takes the delete + rename
    * path of a non-POSIX store. */
  private class FaultFs extends RawLocalFileSystem {
    override def getScheme: String = "glfault"
    override def getUri: URI = URI.create("glfault:///")
    @volatile var failRenamesOntoSchema = 0
    @volatile var throwOnSchemaDelete = false
    override def rename(src: Path, dst: Path): Boolean = {
      if (dst.getName == GraftCatalog.SchemaName && failRenamesOntoSchema > 0) {
        failRenamesOntoSchema -= 1
        false
      } else super.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      if (throwOnSchemaDelete && p.getName == GraftCatalog.SchemaName)
        throw new java.io.IOException("simulated delete outage")
      super.delete(p, recursive)
    }
  }

  private def freshFs(): FaultFs = {
    val fs = new FaultFs
    fs.initialize(URI.create("file:///"), new Configuration())
    fs.setWriteChecksum(false); fs.setVerifyChecksum(false)
    fs
  }

  private def write(fs: FaultFs, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(fs: FaultFs, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def fixture(fs: FaultFs, name: String): (Path, Path) = {
    val dir = new Path(GraftTmp.dir(s"catfall_$name"))
    fs.delete(dir, true); fs.mkdirs(dir)
    val sf = new Path(dir, GraftCatalog.SchemaName)
    write(fs, sf, "old-schema\n")
    (dir, sf)
  }

  /** The publish's staged copies left in `dir` (writer-unique names). */
  private def tmps(fs: FaultFs, dir: Path): Seq[Path] =
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(GraftCatalog.SchemaName + ".") &&
        n.endsWith(".tmp"))
      .map(new Path(dir, _)).toSeq

  test("persistent rename failure after the delete KEEPS the staged tmp and names it") {
    val fs = freshFs()
    val (dir, sf) = fixture(fs, "kept")
    fs.failRenamesOntoSchema = 2 // the publish rename AND the retry
    val e = intercept[java.io.IOException] {
      GlMetaFile.replace(fs, sf, Seq("new-schema"))
    }
    val Seq(tmp) = tmps(fs, dir)
    assert(e.getMessage.contains("KEPT") &&
      e.getMessage.contains(tmp.toString),
      s"the error must say the tmp survives and name it: $e")
    assert(!fs.exists(sf), "old schema is gone (the delete succeeded)")
    assert(fs.exists(tmp) && read(fs, tmp) == "new-schema\n",
      "the staged tmp must survive as the only schema copy")
    // the documented manual recovery works
    assert(fs.rename(tmp, sf))
    assert(read(fs, sf) == "new-schema\n")
  }

  test("a transiently failing rename publishes on the retry") {
    val fs = freshFs()
    val (dir, sf) = fixture(fs, "retry")
    fs.failRenamesOntoSchema = 1
    GlMetaFile.replace(fs, sf, Seq("new-schema")) // must not throw
    assert(read(fs, sf) == "new-schema\n", "the retry must land the publish")
    assert(tmps(fs, dir).isEmpty,
      "the published tmp is consumed by the rename")
  }

  test("a failed delete (old schema intact) sweeps the tmp and rethrows") {
    val fs = freshFs()
    val (dir, sf) = fixture(fs, "delfail")
    fs.throwOnSchemaDelete = true
    fs.failRenamesOntoSchema = 1 // the retry must not clobber-publish
    val e = intercept[java.io.IOException] {
      GlMetaFile.replace(fs, sf, Seq("new-schema"))
    }
    assert(e.getMessage.contains("simulated delete outage"),
      s"the original failure must surface when the table is intact: $e")
    fs.throwOnSchemaDelete = false
    assert(fs.exists(sf) && read(fs, sf) == "old-schema\n",
      "the old schema must still be authoritative")
    assert(tmps(fs, dir).isEmpty,
      "with the table intact the staged tmp is debris and is swept")
  }
}
