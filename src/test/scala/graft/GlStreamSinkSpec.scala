package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftLines

/** Streaming WRITES into graftlines tables (the sink half of the
  * streaming table surface — sources/GraftLines.scala
  * GlStreamingWrite): exactly-once by epoch on both the versioned
  * path (generation-manifest `#epoch:` ledger) and the plain path
  * (replace-per-epoch via epoch-tagged names), restart-safe through a
  * checkpoint, and rejecting Complete mode up front. */
class GlStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = GraftTmp.dir("glsink_spec")

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(name: String): String = {
    val p = s"$dir/$name"
    val hp = new Path(p)
    val fs = hp.getFileSystem(hconf)
    fs.delete(hp, true)
    fs.mkdirs(hp)
    p
  }

  private def markVersioned(p: String): Unit = {
    val hp = new Path(p, GraftLines.VersionMarker)
    hp.getFileSystem(hconf).create(hp, true).close()
  }

  private def readBack(p: String): Seq[(Long, String)] =
    spark.read.format("graftlines").load(p)
      .as[(Long, String)].collect().sorted.toSeq

  test("a NEW query (fresh checkpoint) appending to an existing versioned table is not swallowed") {
    // epoch numbers are PER QUERY: a replacement streaming job with a
    // fresh checkpoint restarts at epoch 0, which the table's ledger
    // already carries from the previous query — idempotence keyed on
    // the epoch number alone would silently drop the new query's first
    // batches as "replays" (data loss)
    val p = freshDir("v_twoq")
    markVersioned(p)
    val memA = MemoryStream[(Long, String)](spark)
    val qA = memA.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", freshDir("v_twoq_cpA"))
      .outputMode("append").start()
    try { memA.addData((1L, "a")); qA.processAllAvailable() }
    finally qA.stop()
    val memB = MemoryStream[(Long, String)](spark)
    val qB = memB.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", freshDir("v_twoq_cpB"))
      .outputMode("append").start()
    try {
      memB.addData((2L, "b"))
      qB.processAllAvailable()
      memB.addData((3L, "c"))
      qB.processAllAvailable()
    } finally qB.stop()
    assert(readBack(p) == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the new query's epochs must commit, not vanish as phantom replays")
  }

  test("plain dir: a NEW query's epoch 0 must not sweep the old query's epoch-0 files") {
    // same hazard, plain-directory form: replace-per-epoch idempotence
    // keyed on the bare epoch number would make query B's epoch-0
    // commit DELETE query A's epoch-0 files
    val p = freshDir("p_twoq")
    val memA = MemoryStream[(Long, String)](spark)
    val qA = memA.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", freshDir("p_twoq_cpA"))
      .outputMode("append").start()
    try { memA.addData((1L, "a")); qA.processAllAvailable() }
    finally qA.stop()
    val memB = MemoryStream[(Long, String)](spark)
    val qB = memB.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", freshDir("p_twoq_cpB"))
      .outputMode("append").start()
    try { memB.addData((2L, "b")); qB.processAllAvailable() }
    finally qB.stop()
    assert(readBack(p) == Seq((1L, "a"), (2L, "b")),
      "query B's epoch 0 must not replace query A's epoch-0 files")
  }

  test("the first streamed epoch into a newly versioned dir keeps its existing rows") {
    // a marker added to a directory that already holds files: the first
    // generation must adopt them, exactly as a batch append does —
    // starting it empty would drop the old rows from the latest version
    val p = freshDir("v_adopt")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    markVersioned(p)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", freshDir("v_adopt_cp"))
      .outputMode("append").start()
    try { mem.addData((3L, "c")); q.processAllAvailable() }
    finally q.stop()
    assert(graft.sources.GlStreamingTestHarness.genVersions(p, hconf) == Seq(1))
    assert(readBack(p) == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the pre-versioning rows must survive the first streamed epoch")
  }

  test("multi-epoch append into a versioned table: one generation per epoch") {
    val p = freshDir("v_epochs")
    val cp = freshDir("v_epochs_cp")
    markVersioned(p)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      assert(readBack(p) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
      val gens = graft.sources.GlStreamingTestHarness.genVersions(p, hconf)
      assert(gens.size == 2, s"one generation per non-empty epoch: $gens")
      // each generation manifest carries its epoch tag
      assert(graft.sources.GlStreamingTestHarness.committedEpochs(p, hconf).size == 2)
      // time travel sees the per-epoch states
      assert(spark.read.format("graftlines")
        .option("versionAsOf", gens.head).load(p).count() == 2)
    } finally q.stop()
  }

  test("a replayed epoch commits once: restart from checkpoint never duplicates") {
    val p = freshDir("v_restart")
    val cp = freshDir("v_restart_cp")
    markVersioned(p)
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData((1L, "a"), (2L, "b"))
    val q1 = mem.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", cp)
      .outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    assert(readBack(p) == Seq((1L, "a"), (2L, "b")))
    // second run over the same checkpoint: the engine may replay the
    // last batch; the epoch ledger must swallow it
    mem.addData((3L, "c"))
    val q2 = mem.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", cp)
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(readBack(p) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("direct double-commit of one epoch is idempotent (versioned)") {
    val p = freshDir("v_twice")
    markVersioned(p)
    // simulate the engine calling commit twice for epoch 7: second
    // call must drop its staged bytes, not publish a second generation
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    def oneEpochWrite(): Unit = {
      val w = new graft.sources.GlStreamingTestHarness(p, schema)
      w.writeEpoch(7L, Seq((1L, "a"), (2L, "b")))
    }
    oneEpochWrite()
    oneEpochWrite()
    assert(readBack(p) == Seq((1L, "a"), (2L, "b")))
    assert(graft.sources.GlStreamingTestHarness.genVersions(p, hconf).size == 1)
  }

  test("warm epoch ledger: replays detected without rescanning old manifests") {
    val p = freshDir("v_warm")
    markVersioned(p)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    // ONE harness = one StreamingWrite = one query run: the committed-
    // epoch ledger is cached incrementally, so each commit reads only
    // manifests newer than its last scan (O(new gens), not
    // O(all gens) — the long-stream quadratic the cache removes).
    // Replays of BOTH an old epoch (cache-retained) and the latest
    // epoch (found by the incremental read) must be swallowed.
    val h = new graft.sources.GlStreamingTestHarness(p, schema)
    h.writeEpoch(0L, Seq((1L, "a")))
    h.writeEpoch(1L, Seq((2L, "b")))
    h.writeEpoch(2L, Seq((3L, "c")))
    h.writeEpoch(0L, Seq((1L, "a"))) // old-epoch replay, warm cache
    h.writeEpoch(2L, Seq((3L, "c"))) // latest-epoch replay
    assert(readBack(p) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(graft.sources.GlStreamingTestHarness.genVersions(p, hconf).size == 3)
    assert(graft.sources.GlStreamingTestHarness.committedEpochs(p, hconf)
      == Set(0L, 1L, 2L))
  }

  test("soak: 250 epochs keep ledger manifest reads O(new gens), not quadratic") {
    val p = freshDir("v_soak")
    markVersioned(p)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val epochs = 250
    // ONE harness = one query run = one warm incremental ledger. Each
    // commit records its own publish in the cache, so a healthy
    // sequential stream should open ~ZERO #epoch tags per commit —
    // the pre-r9 behavior re-read every manifest every commit
    // (~epochs²/2 ≈ 31k opens for this soak). The bound below leaves
    // room for a handful of incidental reads but is two orders of
    // magnitude under quadratic.
    val h = new graft.sources.GlStreamingTestHarness(p, schema)
    val before = graft.sources.GlStreamingTestHarness.epochTagReads
    (0 until epochs).foreach { e =>
      h.writeEpoch(e.toLong, Seq((e.toLong, s"v$e")))
    }
    val ledgerReads =
      graft.sources.GlStreamingTestHarness.epochTagReads - before
    assert(ledgerReads <= 2L * epochs,
      s"committed-epoch ledger opened $ledgerReads #epoch tags over " +
        s"$epochs sequential commits — O(gens²) regression " +
        "(warm cache should make this ~0)")
    // replay of an early epoch against the warm ledger: still swallowed
    h.writeEpoch(0L, Seq((0L, "v0")))
    assert(graft.sources.GlStreamingTestHarness
      .genVersions(p, hconf).size == epochs)
    // a COLD ledger (recovery) rebuilds from all manifests exactly once
    val h2 = new graft.sources.GlStreamingTestHarness(p, schema)
    val beforeCold = graft.sources.GlStreamingTestHarness.epochTagReads
    h2.writeEpoch(epochs.toLong, Seq((epochs.toLong, "last")))
    val coldReads =
      graft.sources.GlStreamingTestHarness.epochTagReads - beforeCold
    assert(coldReads >= epochs && coldReads <= 2L * epochs + 4,
      s"cold recovery must scan each manifest about once, got $coldReads")
    // exactly-once end to end: every epoch's single row, no dupes
    val rows = spark.read.format("graftlines").load(p)
      .as[(Long, String)].collect()
    assert(rows.length == epochs + 1)
    assert(rows.map(_._1).sorted.toSeq == (0L to epochs.toLong))
    assert(graft.sources.GlStreamingTestHarness.committedEpochs(p, hconf)
      == (0L to epochs.toLong).toSet)
  }

  test("plain directory: replace-per-epoch clears a crashed attempt's files") {
    val p = freshDir("plain_replace")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val h = new graft.sources.GlStreamingTestHarness(p, schema)
    h.writeEpoch(0L, Seq((1L, "a")))
    h.writeEpoch(1L, Seq((2L, "b")))
    // epoch 1 replays (recovery): its rows replace, never append
    h.writeEpoch(1L, Seq((2L, "b")))
    assert(readBack(p) == Seq((1L, "a"), (2L, "b")))
  }

  test("sunk epochs stream back out of the same versioned table") {
    val p = freshDir("roundtrip")
    val cp = freshDir("roundtrip_cp")
    markVersioned(p)
    val mem = MemoryStream[(Long, String)](spark)
    val qIn = mem.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      qIn.processAllAvailable()
      mem.addData((3L, "c"))
      qIn.processAllAvailable()
    } finally qIn.stop()
    // the table the stream produced is itself a streaming source
    val qOut = spark.readStream.format("graftlines").load(p)
      .writeStream.format("memory").queryName("gl_sink_roundtrip")
      .outputMode("append").start()
    try {
      qOut.processAllAvailable()
      assert(spark.table("gl_sink_roundtrip").as[(Long, String)]
        .collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally qOut.stop()
  }

  test("a batch writer interleaved with the streaming sink serializes cleanly") {
    // the Delta-style mixed workload: one versioned table, a live
    // streaming sink AND occasional batch appends. Each epoch commit
    // recomputes the next generation from disk, so a batch commit
    // landing between epochs is picked up — its generation carried,
    // its rows preserved — and generations stay sequential. (A truly
    // simultaneous collision is the loud CAS failure; interleaved is
    // the common case and must just work.)
    import spark.implicits._
    val p = freshDir("mixed_writers")
    val cp = freshDir("mixed_writers_cp")
    markVersioned(p)
    val mem = MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("k", "s")
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", cp)
      .outputMode("append").start()
    try {
      mem.addData((1L, "stream1"))
      q.processAllAvailable()
      // batch append while the stream is between epochs
      Seq((100L, "batch")).toDF("k", "s")
        .write.format("graftlines").mode("append").save(p)
      mem.addData((2L, "stream2"))
      q.processAllAvailable()
      assert(readBack(p) == Seq((1L, "stream1"), (2L, "stream2"),
        (100L, "batch")),
        "both writers' rows must survive the interleave")
      val gens = graft.sources.GlStreamingTestHarness.genVersions(p, hconf)
      assert(gens == Seq(1, 2, 3),
        s"three sequential generations (epoch, batch, epoch): $gens")
      // the second epoch's generation carries the batch rows forward
      assert(spark.read.format("graftlines")
        .option("versionAsOf", 3).load(p).count() == 3)
      // and the epoch ledger only counts the STREAM's commits
      assert(graft.sources.GlStreamingTestHarness
        .committedEpochs(p, hconf).size == 2,
        "batch generations must not register as committed epochs")
    } finally q.stop()
  }

  test("batch readers racing the epoch stream never observe a torn epoch") {
    // the streaming twin of TimeTravelSpec's reader soak: epochs commit
    // through the sink's ledger path while concurrent readers assert
    // (a) LATEST is always a complete, contiguous epoch prefix — an
    // epoch is visible whole or not at all; (b) replays of a committed
    // generation are immutable; (c) visibility is monotonic per reader
    val p = freshDir("v_readers")
    markVersioned(p)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val epochs = 40
    val rowsPer = 3
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val doneWriting = new java.util.concurrent.atomic.AtomicBoolean(false)
    // epoch 0 lands BEFORE the race: an empty versioned table is a
    // loud read error by design (no .gl files), not a torn state
    val h = new graft.sources.GlStreamingTestHarness(p, schema)
    h.writeEpoch(0L, (0 until rowsPer).map(j => (j.toLong, s"e0-$j")))
    val writer = new Thread(() => {
      try (1 until epochs).foreach { e =>
        h.writeEpoch(e.toLong,
          (0 until rowsPer).map(j => (e * 10L + j, s"e$e-$j")))
      } catch { case t: Throwable => failures.add(t) }
      finally doneWriting.set(true)
    })
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Long]]()
    val readers = (0 until 2).map { r =>
      new Thread(() => {
        try {
          var lastPrefix = -1L
          while (!doneWriting.get()) {
            val ks = spark.read.format("graftlines").load(p)
              .select("k").collect().map(_.getLong(0)).sorted.toSeq
            // complete contiguous prefix: epoch e contributes exactly
            // rowsPer keys e*10+j — any partial epoch is a torn read
            val byEpoch = ks.groupBy(_ / 10)
            byEpoch.foreach { case (e, rows) =>
              assert(rows.size == rowsPer,
                s"reader $r: epoch $e torn ($rows)")
            }
            val es = byEpoch.keys.toSeq.sorted
            assert(es == (0L until es.size),
              s"reader $r: epochs must be a contiguous prefix: $es")
            assert(es.size >= lastPrefix,
              s"reader $r: visibility went backwards")
            lastPrefix = es.size
            // a committed generation is immutable on replay
            if (es.nonEmpty) {
              val g = es.size // gen g = epochs 0..g-1
              val replay = spark.read.format("graftlines")
                .option("versionAsOf", g).load(p)
                .select("k").collect().map(_.getLong(0)).sorted.toSeq
              assert(replay.size == g * rowsPer,
                s"reader $r: gen $g must hold ${g * rowsPer} rows")
              val prev = seen.putIfAbsent(g, replay)
              assert(prev == null || prev == replay,
                s"reader $r: generation $g changed content")
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    (readers :+ writer).foreach(_.start())
    (readers :+ writer).foreach(_.join())
    assert(failures.isEmpty, s"streaming reader soak failures: $failures")
    assert(graft.sources.GlStreamingTestHarness
      .committedEpochs(p, hconf) == (0L until epochs.toLong).toSet)
    assert(readBack(p).size == epochs * rowsPer)
  }

  test("Complete output mode is rejected loudly") {
    val p = freshDir("complete_rejected")
    val cp = freshDir("complete_rejected_cp")
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData((1L, "a"))
    val q = mem.toDF().toDF("k", "s").groupBy("s").count()
      .writeStream.format("graftlines")
      .option("path", p).option("checkpointLocation", cp)
      .outputMode("complete").start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q.processAllAvailable() } finally q.stop()
    }
    assert(ex.getMessage.contains("Append output mode only")
      || Option(ex.getCause).exists(_.getMessage != null &&
        ex.getCause.getMessage.contains("Append output mode only")))
  }
}
