package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLines

/** Streaming reads over versioned graftlines tables (generations as
  * offsets — sources/GraftLines.scala GlMicroBatchStream): each
  * committed generation's new files stream exactly once, checkpointed
  * offsets survive restart without re-emission, and non-versioned
  * tables are rejected loudly. */
class GlStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = GraftTmp.dir("glstream_spec")

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(name: String): String = {
    val p = s"$dir/$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(hconf)
    fs.delete(hp, true)
    fs.mkdirs(hp)
    p
  }

  private def markVersioned(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p, GraftLines.VersionMarker)
    hp.getFileSystem(hconf).create(hp, true).close()
  }

  test("each generation streams exactly once, incl. ones committed mid-stream") {
    val p = freshDir("gen_once")
    markVersioned(p)
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    Seq((3L, "c")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val q = spark.readStream.format("graftlines").load(p)
      .writeStream.format("memory").queryName("gl_gen_once")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gl_gen_once").count() == 3)
      // a generation committed while the stream runs is picked up
      // as its own micro-batch, once
      Seq((4L, "d"), (5L, "e")).toDF("k", "s").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
      q.processAllAvailable()
      val got = spark.table("gl_gen_once").as[(Long, String)]
        .collect().sorted.toSeq
      assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
        (5L, "e")))
    } finally q.stop()
  }

  test("checkpointed offsets resume without re-emission") {
    val p = freshDir("resume")
    val ckpt = freshDir("resume_ckpt")
    val sink = freshDir("resume_sink")
    markVersioned(p)
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    def run(): Unit = {
      val q = spark.readStream.format("graftlines").load(p)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // second commit lands while no stream runs; the restarted stream
    // must emit ONLY it (offsets came from the checkpoint, not from 0)
    Seq(3L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    run()
    val got = spark.read.parquet(sink).as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L),
      s"restart must not re-emit consumed generations, got $got")
  }

  test("pushed filters apply to every micro-batch") {
    val p = freshDir("filters")
    markVersioned(p)
    (0L until 100L).map(k => (k, k % 7)).toDF("k", "m").coalesce(2)
      .write.format("graftlines").mode("append").save(p)
    val q = spark.readStream.format("graftlines").load(p)
      .filter($"m" === 0L).select($"k")
      .writeStream.format("memory").queryName("gl_filtered")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("gl_filtered").as[Long].collect().sorted.toSeq
      assert(got == (0L until 100L).filter(_ % 7 == 0))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains existing generations then stops") {
    val p = freshDir("avail_now")
    val ckpt = freshDir("avail_now_ckpt")
    val sink = freshDir("avail_now_sink")
    markVersioned(p)
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    Seq(3L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    def run(): Unit = {
      val q = spark.readStream.format("graftlines").load(p)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      // the defining property: the query TERMINATES BY ITSELF once the
      // start-time ceiling is consumed — no stop() needed
      assert(q.awaitTermination(60000),
        "AvailableNow query must self-terminate")
    }
    run()
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // a generation committed after that run waits for the NEXT run,
    // which resumes from the checkpoint and emits only the new one
    Seq(4L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    run()
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))
  }

  test("compaction mid-stream re-streams compacted files (documented limit)") {
    // the source is APPEND-driven: a compaction commit's replacement
    // files are NEW files to the generation diff, so their rows stream
    // again — the ignoreChanges caveat every file-log stream has. Pin
    // the behavior so it stays documented-and-true rather than
    // silently changing either way.
    val p = freshDir("restream")
    markVersioned(p)
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val q = spark.readStream.format("graftlines").load(p)
      .writeStream.format("memory").queryName("gl_restream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("gl_restream").count() == 2)
      Seq(3L).toDF("k").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
      q.processAllAvailable()
      assert(spark.table("gl_restream").count() == 3)
      graft.sources.GraftLines.compact(p, 1, spark)
      q.processAllAvailable()
      // the compacted generation lists one NEW file holding all 3 rows
      assert(spark.table("gl_restream").count() == 6,
        "compaction replacements re-stream — the documented append-driven limit")
    } finally q.stop()
  }

  test("a keyed table streams each generation once") {
    // a micro-batch plans through the batch scan, whose keyed plan
    // hands the stream key-grouped splits
    val p = freshDir("keyed")
    markVersioned(p)
    (0L until 6L).map(k => (k, k % 3)).toDF("k", "g").coalesce(1)
      .write.format("graftlines").option("partitionColumn", "g")
      .mode("append").save(p)
    val q = spark.readStream.format("graftlines").load(p)
      .writeStream.format("memory").queryName("gl_keyed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      Seq((6L, 0L)).toDF("k", "g").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
      q.processAllAvailable()
      val got = spark.table("gl_keyed").as[(Long, Long)]
        .collect().sorted.toSeq
      assert(got == (0L until 7L).map(k => (k, k % 3)))
    } finally q.stop()
  }

  test("a consumed generation expired before the next batch fails the stream loudly") {
    // the next micro-batch is gen 2 minus gen 1's files: with gen 1's
    // manifest gone the delta is unknowable, and skipping or
    // re-emitting gen 1's rows would both be silent
    val p = freshDir("expired")
    val ckpt = freshDir("expired_ckpt")
    val sink = freshDir("expired_sink")
    markVersioned(p)
    Seq(1L, 2L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    def run(): Unit = {
      val q = spark.readStream.format("graftlines").load(p)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    Seq(3L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    assert(GraftLines.expireVersions(p, keepLast = 1, hconf)._1 == Seq(1))
    val e = intercept[Exception](run())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(_.contains(s"${GraftLines.GenPrefix}1")),
      s"the failure must name generation 1: ${chain(e).mkString(" | ")}")
    assert(spark.read.parquet(sink).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "nothing past gen 1 may have been emitted")
  }

  test("streaming a non-versioned directory is rejected loudly") {
    val p = freshDir("plain")
    Seq(1L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graftlines").load(p)
        .writeStream.format("memory").queryName("gl_plain")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("VERSIONED")),
      s"unexpected error: ${chain(e).mkString(" | ")}")
  }

  test("a stream pinned by versionAsOf or timestampAsOf is rejected naming the option") {
    val p = freshDir("pinned")
    markVersioned(p)
    Seq(1L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    for ((opt, v) <- Seq("versionAsOf" -> "1",
        "timestampAsOf" -> System.currentTimeMillis().toString)) {
      val e = intercept[Exception] {
        val q = spark.readStream.format("graftlines").option(opt, v).load(p)
          .writeStream.format("memory").queryName(s"gl_pinned_$opt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(chain(e).exists(m => m.contains("streaming") && m.contains(opt)),
        s"$opt: ${chain(e).mkString(" | ")}")
    }
  }
}
