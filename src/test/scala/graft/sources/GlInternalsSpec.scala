package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level contracts of GraftLines internals that the behavioral
  * suites cannot reach directly: bucket-name parsing across commit
  * suffixes, job-tag name uniqueness across applications, and
  * per-line stats-manifest degradation. */
class GlInternalsSpec extends AnyFunSuite {

  test("bucketIdOf parses through generation suffixes") {
    assert(GraftLines.bucketIdOf("part-00000-3-b5.gl").contains(5))
    // a versioned commit appends -g<N> AFTER the bucket tag; a
    // versioned COW rewrite can stack a second — the id must survive
    assert(GraftLines.bucketIdOf("part-00000-3-b5-g7.gl").contains(5))
    assert(GraftLines.bucketIdOf("part-00000-3-tdeadbeef-b12-g7-g9.gl")
      .contains(12))
    assert(GraftLines.bucketIdOf("part-00000-3.gl").isEmpty)
    assert(GraftLines.bucketIdOf("part-00000-3-b5.gl.staging").isEmpty)
  }

  test("file names: bucket ids and epoch tags parse from every shape") {
    // one factory writes a batch and a streaming file for each layout;
    // each name, bare and with a versioned commit's -g<N>, must yield
    // its bucket id and match its own epoch tag and no other
    val dir = graft.GraftTmp.dir("name_grammar_spec")
    val hconf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(hconf)
    fs.delete(p, true); fs.mkdirs(p)
    val schema = StructType(Seq(StructField("k", LongType)))
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](7L)) // bucketOf(7, 4) == 3
    for ((layout, suffix, bucket) <- Seq(
        (None, "", None),
        (Some(GlKey.Bucket("k", 4)), "-b3", Some(3)),
        (Some(GlKey.Identity("k")), "-p0", None))) {
      val f = GlWriterFactory(dir, schema, conf, layout, queryId = "a1")
      for ((w, shape) <- Seq(
          f.createWriter(0, 5L) -> s"part-00000-5-${f.jobTag}",
          f.createWriter(0, 5L, 12L) -> "part-00000-qa1-e12-5")) {
        w.write(row)
        val name = new org.apache.hadoop.fs.Path(GraftLines
          .committedFiles(Array(w.commit())).head.file.get).getName
        assert(name == shape + suffix + GraftLines.Ext)
        val streaming = shape.contains("-qa1-")
        for (n <- Seq(name, GraftLines.genName(name, 9))) {
          assert(GraftLines.bucketIdOf(n) == bucket, n)
          assert(n.contains(GraftLines.epochTag("a1", 12)) == streaming, n)
          for ((q, e) <- Seq(("a1", 1L), ("a1", 2L), ("a1", 120L),
              ("a", 12L), ("1", 12L)))
            assert(!n.contains(GraftLines.epochTag(q, e)), s"$n vs $q/$e")
        }
      }
    }
    fs.delete(p, true)
  }

  test("batch writer factories from different jobs never share final names") {
    // taskAttemptId restarts at 0 per SparkContext, so names keyed
    // only by (partitionId, taskId) collide across applications; the
    // per-factory job tag must keep two factories' names disjoint
    // even for identical (pid, tid)
    val schema = StructType(Seq(StructField("k", LongType)))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration())
    val f1 = GlWriterFactory("/tmp/graft_tag_a", schema, conf)
    val f2 = GlWriterFactory("/tmp/graft_tag_a", schema, conf)
    assert(f1.jobTag != f2.jobTag, "job tags must be per-factory unique")
    assert(f1.jobTag.matches("t[0-9a-f]{8}"),
      s"tag '${f1.jobTag}' must be t+hex so it can never be parsed as " +
        "a -e<epoch>-, -b<id>, -g<N> or -p<k> suffix")
    // same guarantee for partitioned/bucketed layouts
    for (l <- Seq(GlKey.Identity("k"), GlKey.Bucket("k", 4)))
      assert(GlWriterFactory("/tmp/x", schema, conf, Some(l)).jobTag
        != GlWriterFactory("/tmp/x", schema, conf, Some(l)).jobTag)
  }

  test("a corrupt stats line drops only itself, never the whole manifest") {
    val dir = graft.GraftTmp.dir("stats_line_spec")
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true); fs.mkdirs(p)
    val schema = StructType(Seq(StructField("k", LongType)))
    val ok = GraftLines.StatsSentinel
    val lines = Seq(
      s"good.gl\t10\tk\t0\t1\t9\t$ok",
      s"bad.gl\tNOTANUMBER\tk\t0\t1\t9\t$ok", // passes sentinel, fails parse
      s"good2.gl\t7\tk\t0\t5\t6\t$ok")
    val w = new java.io.OutputStreamWriter(
      fs.create(GraftLines.statsPath(dir), true), "UTF-8")
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    val stats = GraftLines.readStats(dir, conf, schema)
    assert(stats.keySet == Set("good.gl", "good2.gl"),
      s"only the damaged line may drop, got ${stats.keySet}")
    assert(stats("good.gl").rows == 10 && stats("good2.gl").rows == 7)
  }

  test("publishing an already-published generation fails the commit loudly") {
    // two committers that both computed N as the next generation must
    // not last-writer-win: data file names are job-unique, so the
    // generation manifest is the ONE place a concurrent-commit race
    // surfaces — and Hadoop's local-FS rename clobbers an existing
    // destination, so without the exists guard the second publish
    // would silently orphan the first job's commit
    val dir = graft.GraftTmp.dir("gen_cas_spec")
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    GraftLines.writeGen(dir, 3, Seq("part-a.gl"), conf)
    val e = intercept[IllegalArgumentException](
      GraftLines.writeGen(dir, 3, Seq("part-b.gl"), conf))
    assert(e.getMessage.contains("concurrent committers"), e.getMessage)
    // the loser must not have damaged the winner's manifest
    assert(GraftLines.readGen(dir, 3, conf) == Seq("part-a.gl"),
      "the first publish must survive the failed second intact")
    // a DIFFERENT generation still publishes fine
    GraftLines.writeGen(dir, 4, Seq("part-b.gl"), conf)
    assert(GraftLines.readGen(dir, 4, conf) == Seq("part-b.gl"))
  }
}
