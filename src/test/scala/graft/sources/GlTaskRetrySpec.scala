package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Task-retry / speculative-execution evidence through the DSv2 writer
  * (r12 VERDICT #2). At 100 TB speculative twins are routine: two
  * attempts of ONE partition both run to completion, the driver admits
  * exactly one commit message (BatchWrite.useCommitCoordinator), and
  * the loser may be KILLED before its abort() runs — leaving durable
  * staging bytes behind. The protocol under test: attempt-unique
  * staging names (taskId is per-attempt), readers never list staging,
  * the committed table holds exactly one copy of the partition's rows,
  * a task abort sweeps its own staging, and the documented sweeps
  * clear a killed twin's debris. */
class GlTaskRetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("v", LongType), StructField("s", StringType)))

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def fsOf(p: String) = new Path(p).getFileSystem(hconf)

  private def row(v: Long, s: String) =
    new GenericInternalRow(Array[Any](v, UTF8String.fromString(s)))

  private def factory(p: String) =
    GlWriterFactory(p, schema, new SerializableConfiguration(hconf))

  private def stagingFiles(p: String): Seq[String] =
    fsOf(p).listStatus(new Path(p)).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".staging"))

  private def readVS(p: String): Seq[(Long, String)] =
    spark.read.format("graftlines").load(p)
      .as[(Long, String)].collect().sorted.toSeq

  test("the job commit is gated by the commit coordinator (one attempt per partition)") {
    // the property that makes "exactly one message per partition
    // reaches BatchWrite.commit" true under speculation — pin it so a
    // refactor can't silently opt out of Spark's arbitration
    assert(new GlWrite("/tmp/unused", schema, truncate = false)
      .useCommitCoordinator(),
      "GlWrite must keep Spark's OutputCommitCoordinator engaged")
  }

  test("speculative twins, batch append: one copy committed, killed loser invisible then swept") {
    val p = GraftTmp.dir("retry_twins")
    fsOf(p).delete(new Path(p), true)
    Seq((0L, "seed")).toDF("v", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    // two attempts of partition 0 — per-attempt taskIds, as Spark
    // assigns them — both write the SAME rows to completion
    val f = factory(p)
    val w1 = f.createWriter(0, 100L)
    val w2 = f.createWriter(0, 101L)
    Seq(w1, w2).foreach { w => w.write(row(1L, "a")); w.write(row(2L, "b")) }
    val m1 = w1.commit()
    val m2 = w2.commit() // the twin also completes (durable staging)
    assert(m1 != m2, "attempt staging/final names must be attempt-unique")
    // the driver admits ONE message; the loser is killed before abort
    new GlWrite(p, schema, truncate = false).commit(Array(m1))
    assert(readVS(p) == Seq((0L, "seed"), (1L, "a"), (2L, "b")),
      "exactly one copy of the partition's rows may commit")
    // the killed twin's staging bytes are durable but INVISIBLE
    val leftover = stagingFiles(p)
    assert(leftover.size == 1, s"the loser's staging survives: $leftover")
    assert(readVS(p) == Seq((0L, "seed"), (1L, "a"), (2L, "b")),
      "readers must never list staging debris")
    // the documented sweep: the next overwrite clears foreign staging
    Seq((9L, "z")).toDF("v", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    assert(stagingFiles(p).isEmpty,
      "overwrite must sweep the dead twin's staging debris")
    assert(readVS(p) == Seq((9L, "z")))
  }

  test("a task abort mid-write sweeps its own staging; the retry commits exactly once") {
    val p = GraftTmp.dir("retry_abort")
    fsOf(p).delete(new Path(p), true)
    Seq((0L, "seed")).toDF("v", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val f = factory(p)
    val w1 = f.createWriter(0, 200L)
    w1.write(row(1L, "a")) // dies mid-write: framework calls abort()
    w1.abort()
    assert(stagingFiles(p).isEmpty,
      "an aborted attempt must leave no staging bytes")
    // the retry attempt (new taskId) commits normally
    val w2 = f.createWriter(0, 201L)
    w2.write(row(1L, "a")); w2.write(row(2L, "b"))
    new GlWrite(p, schema, truncate = false).commit(Array(w2.commit()))
    assert(readVS(p) == Seq((0L, "seed"), (1L, "a"), (2L, "b")))
    assert(stagingFiles(p).isEmpty)
  }

  test("speculative twins on a versioned overwrite: one generation, history intact") {
    val p = GraftTmp.dir("retry_versioned")
    val fs = fsOf(p)
    fs.delete(new Path(p), true)
    fs.mkdirs(new Path(p))
    fs.create(new Path(p, GraftLines.VersionMarker), true).close()
    Seq((0L, "seed")).toDF("v", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val f = factory(p)
    val w1 = f.createWriter(0, 300L)
    val w2 = f.createWriter(0, 301L)
    Seq(w1, w2).foreach(_.write(row(5L, "new")))
    val m1 = w1.commit(); w2.commit() // twin completes, then is killed
    new GlWrite(p, schema, truncate = true).commit(Array(m1))
    assert(readVS(p) == Seq((5L, "new")),
      "the overwrite generation must hold exactly the winner's rows")
    assert(spark.read.format("graftlines").option("versionAsOf", 1)
      .load(p).as[(Long, String)].collect().toSeq == Seq((0L, "seed")),
      "history must stay byte-identical under the twin's debris")
    // the manifest references only the winner's file; the twin's
    // staging is unreferenced and invisible
    val gens = GraftLines.genVersions(p, hconf)
    assert(gens == Seq(1, 2), s"exactly one new generation: $gens")
    val listed = GraftLines.readGen(p, 2, hconf)
    assert(listed.size == 1 && listed.head.contains("-300-"),
      s"generation 2 must list only the winner's file: $listed")
    assert(stagingFiles(p).size == 1, "the killed twin's staging survives")
  }

  test("streaming epoch: twin attempts, crashed-attempt target, and replay are all single-copy") {
    val p = GraftTmp.dir("retry_stream")
    val fs = fsOf(p)
    fs.delete(new Path(p), true)
    fs.mkdirs(new Path(p))
    fs.create(new Path(p, GraftLines.VersionMarker), true).close()
    val sf = GlWriterFactory(p, schema,
      new SerializableConfiguration(hconf))
    // a CRASHED attempt of this same epoch got far enough to rename
    // its targets before the driver died: plant them — one under the
    // recommit's own name, which must be replaced, and one from another
    // task attempt, which no generation may adopt
    def plantOrphan(name: String, body: String): Unit = {
      val cw = fs.create(new Path(p, name), true)
      try cw.write((GraftLines.header(schema) + "\n" + body + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally cw.close()
    }
    plantOrphan("part-00000-qadhoc-e7-1-g1.gl", "3\tcrashed")
    plantOrphan("part-00000-qadhoc-e7-5-g1.gl", "1\ta")
    // epoch 7, two live attempts of partition 0
    val w1 = sf.createWriter(0, 1L, 7L)
    val w2 = sf.createWriter(0, 2L, 7L)
    Seq(w1, w2).foreach(_.write(row(1L, "a")))
    val m1 = w1.commit(); w2.commit() // twin killed before abort
    new GlWrite(p, schema, truncate = false).toStreaming
      .commit(7L, Array(m1))
    assert(readVS(p) == Seq((1L, "a")),
      "exactly one copy after the twin + crashed-target epoch commit")
    assert(GraftLines.readGen(p, 1, hconf).size == 1,
      s"generation 1 lists one file: ${GraftLines.readGen(p, 1, hconf)}")
    val sq = spark.readStream.format("graftlines").load(p)
      .writeStream.format("memory").queryName("gl_retry_orphans")
      .outputMode("append").start()
    try {
      sq.processAllAvailable()
      assert(spark.table("gl_retry_orphans").as[(Long, String)].collect()
        .toSeq == Seq((1L, "a")), "a streaming read emits one copy too")
    } finally sq.stop()
    // recovery replays epoch 7 with a THIRD attempt: the epoch ledger
    // (fresh instance — cold cache, reads the manifests) swallows it
    val w3 = sf.createWriter(0, 3L, 7L)
    w3.write(row(1L, "a"))
    val replayWrite = new GlWrite(p, schema, truncate = false).toStreaming
    replayWrite.commit(7L, Array(w3.commit()))
    assert(readVS(p) == Seq((1L, "a")),
      "a replayed epoch must be swallowed, not double-committed")
    assert(GraftLines.genVersions(p, hconf) == Seq(1),
      "the replay must not mint a new generation")
    // the replay's staged bytes were reclaimed by the swallow; only
    // the killed twin's staging may remain, invisible to readers
    assert(stagingFiles(p).size == 1,
      s"swallowed replay must sweep its staging: ${stagingFiles(p)}")
    // a task abort on a later epoch sweeps its own staging
    val w4 = sf.createWriter(0, 4L, 8L)
    w4.write(row(2L, "b"))
    w4.abort()
    assert(stagingFiles(p).size == 1,
      "an aborted streaming attempt must sweep its staging")
  }
}
