package graft.sources

import java.util.concurrent.{BrokenBarrierException, CyclicBarrier,
  TimeUnit, TimeoutException}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit, sum, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Every way a file lands in a bucketed or identity-partitioned table
  * keeps the table's layout: the streaming sink and compaction write
  * through the same writer factory as a batch append, so each file
  * holds one key and the batch scan stays keyed. The key marker is
  * published create-once ([[GlMetaFile]]): racing first commits agree
  * on one key, and a failed publish leaves no marker at all. */
class GlKeyedLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = GraftTmp.dir("keyed_layout_spec")
  private def hconf = spark.sparkContext.hadoopConfiguration

  /** (PARTITIONED BY clause, versioned) for every keyed table shape. */
  private val shapes = for {
    layout <- Seq("bucket(4, k)", "g")
    versioned <- Seq(false, true)
  } yield (layout, versioned)

  private def catalog(name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", s"$dir/${name}_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
  }

  private def create(t: String, layout: String, versioned: Boolean): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, g BIGINT, v BIGINT) " +
      s"USING graftlines PARTITIONED BY ($layout)" +
      (if (versioned) " TBLPROPERTIES ('versioned'='true')" else ""))
  }

  /** The key each live file of `tDir` provably holds: its bucket id on
    * a bucketed table, its single stats value on a partitioned one. */
  private def fileKeys(tDir: String): Seq[Option[Any]] = {
    val files = GraftLines.resolveDataFileStatuses(tDir, hconf, None)
      .map { case (f, _) => new Path(f).getName }
    val key = GlKey.keyOf(tDir, hconf).get
    val stats = GraftLines.readStats(tDir, hconf,
      GraftLines.readDirSchema(tDir))
    files.map(key.fileKey(_, stats))
  }

  private def keyedScan(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[GlScan]
    }.exists(_.outputPartitioning().isInstanceOf[KeyGroupedPartitioning])

  private def totals(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum($"v")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("a stream into a keyed table lands keyed files; a replay lands once") {
    catalog("graft_kstream")
    val t = "graft_kstream.ns.t"
    for ((layout, versioned) <- shapes) {
      val what = s"$layout, versioned=$versioned"
      create(t, layout, versioned)
      val tDir = s"$dir/graft_kstream_wh/ns/t"
      val cp = s"$dir/kstream_cp"
      val fs = new Path(cp).getFileSystem(hconf)
      fs.delete(new Path(cp), true)
      val mem = MemoryStream[(Long, Long, Long)](spark)
      def run(): Unit = {
        val q = mem.toDF().toDF("k", "g", "v").writeStream
          .option("checkpointLocation", cp).outputMode("append").toTable(t)
        try q.processAllAvailable() finally q.stop()
      }
      mem.addData((0L until 20L).map(k => (k, k % 4, k)))
      run()
      mem.addData((20L until 40L).map(k => (k, k % 4, k)))
      run()
      // forget that the last epoch committed: the restart replays it
      val commits = new Path(cp, "commits")
      val last = fs.listStatus(commits).map(_.getPath.getName)
        .flatMap(_.toIntOption).max
      fs.delete(new Path(commits, last.toString), false)
      fs.delete(new Path(commits, s".$last.crc"), false)
      run()
      assert(totals(spark.table(t)) == ((40L, (0L until 40L).sum)),
        s"$what: the replayed epoch must land exactly one copy")
      val keys = fileKeys(tDir)
      assert(keys.nonEmpty && keys.forall(_.isDefined),
        s"$what: a streamed file holds more than one key")
      assert(keyedScan(spark.table(t)), s"$what: the scan is not keyed")
    }
  }

  test("compact keeps a keyed table keyed, every row, and the old version") {
    catalog("graft_kcompact")
    val t = "graft_kcompact.ns.t"
    val maxFiles = 2
    for ((layout, versioned) <- shapes) {
      val what = s"$layout, versioned=$versioned"
      create(t, layout, versioned)
      val tDir = s"$dir/graft_kcompact_wh/ns/t"
      // unclustered appends: several files per key
      for (i <- 0 until 4)
        (0L until 40L).map(k => (k, k % 4, k * 10 + i)).toDF("k", "g", "v")
          .repartition(3).writeTo(t).append()
      val before = totals(spark.table(t))
      val beforeKeys = fileKeys(tDir)
      assert(beforeKeys.groupBy(identity).values.exists(_.size > maxFiles),
        s"$what: the fixture must hold more than $maxFiles files per key")
      val gen = GraftLines.currentVersion(tDir, hconf)
      val (nb, na) = GraftLines.compact(tDir, maxFiles, spark)
      assert(nb == beforeKeys.size && na < nb, s"$what: $nb -> $na")
      val keys = fileKeys(tDir)
      assert(keys.size == na && keys.forall(_.isDefined),
        s"$what: a compacted file holds more than one key")
      assert(keys.groupBy(identity).values.forall(_.size <= maxFiles),
        s"$what: more than $maxFiles files for one key: $keys")
      assert(keyedScan(spark.table(t)), s"$what: the scan is not keyed")
      assert(totals(spark.table(t)) == before, s"$what: rows changed")
      if (versioned)
        assert(totals(spark.sql(s"SELECT * FROM $t VERSION AS OF $gen")) ==
          before, s"$what: the pre-compact generation is not readable")
    }
  }

  test("a second compact of a keyed table within budget per key is a no-op") {
    catalog("graft_knoop")
    val t = "graft_knoop.ns.t"
    val tDir = s"$dir/graft_knoop_wh/ns/t"
    for ((layout, versioned) <- shapes) {
      val what = s"$layout, versioned=$versioned"
      create(t, layout, versioned)
      for (i <- 0 until 4)
        (0L until 40L).map(k => (k, k % 4, k * 10 + i)).toDF("k", "g", "v")
          .repartition(3).writeTo(t).append()
      GraftLines.compact(tDir, 2, spark)
      def live() = GraftLines.resolveDataFileStatuses(tDir, hconf, None)
        .map { case (f, _) => new Path(f).getName }.toSet
      val names = live()
      val gens = GraftLines.genVersions(tDir, hconf)
      assert(names.size > 2, s"$what: the fixture must keep > 2 files")
      assert(GraftLines.compact(tDir, 2, spark) == ((names.size, names.size)),
        s"$what: the second compact rewrote the table")
      assert(live() == names, s"$what: live files changed")
      assert(GraftLines.genVersions(tDir, hconf) == gens,
        s"$what: the second compact wrote a generation")
    }
  }

  test("a key the schema cannot hold is refused before anything lands") {
    catalog("graft_kcheck")
    val wh = s"$dir/graft_kcheck_wh/ns"
    val fs = new Path(wh).getFileSystem(hconf)
    def landed(d: String): Seq[String] =
      if (!fs.exists(new Path(d))) Nil
      else fs.listStatus(new Path(d)).map(_.getPath.getName).toSeq
        .filter(n => n.endsWith(GraftLines.Ext) || n.startsWith("_graft"))
    for ((t, ddl) <- Seq(
        "s_part" -> "PARTITIONED BY (s)",
        "d_bucket" -> "PARTITIONED BY (bucket(4, d))")) {
      spark.sql(s"DROP TABLE IF EXISTS graft_kcheck.ns.$t")
      intercept[IllegalArgumentException](spark.sql(
        s"CREATE TABLE graft_kcheck.ns.$t (k BIGINT, s STRING, d DOUBLE) " +
          s"USING graftlines $ddl"))
      assert(landed(s"$wh/$t").isEmpty, s"$ddl: ${landed(s"$wh/$t")}")
    }
    val p = s"$dir/kcheck_path"
    fs.delete(new Path(p), true)
    intercept[IllegalArgumentException](Seq((1L, "a")).toDF("k", "s")
      .write.format("graftlines").option("partitionColumn", "s")
      .mode("append").save(p))
    assert(landed(p).isEmpty, s"partitionColumn s: ${landed(p)}")
    create("graft_kcheck.ns.b", "bucket(4, k)", versioned = false)
    val before = landed(s"$wh/b")
    intercept[IllegalArgumentException](Seq((1L, 2L, 3L)).toDF("k", "g", "v")
      .write.format("graftlines").option("partitionColumn", "g")
      .mode("append").save(s"$wh/b"))
    assert(landed(s"$wh/b") == before,
      s"partitionColumn g into a bucketed table: ${landed(s"$wh/b")}")
  }

  test("a table's key persists as one marker file of one line") {
    catalog("graft_kmark")
    val wh = s"$dir/graft_kmark_wh/ns"
    val fs = new Path(wh).getFileSystem(hconf)
    def markers(d: String): Map[String, String] =
      fs.listStatus(new Path(d)).map(_.getPath.getName)
        .filter(n => n == GraftLines.PartColMarker || n == GraftLines.BucketMarker)
        .map { n =>
          val in = fs.open(new Path(d, n))
          try n -> new String(in.readAllBytes(), "UTF-8") finally in.close()
        }.toMap
    create("graft_kmark.ns.p", "g", versioned = false)
    assert(markers(s"$wh/p") == Map("_graft_partcol" -> "g\n"))
    create("graft_kmark.ns.b", "bucket(4, k)", versioned = false)
    assert(markers(s"$wh/b") == Map("_graft_buckets" -> "k\t4\n"))
    val p = s"$dir/kmark_path"
    fs.delete(new Path(p), true)
    Seq((1L, 2L)).toDF("k", "g").write.format("graftlines")
      .option("partitionColumn", "g").mode("append").save(p)
    assert(markers(p) == Map("_graft_partcol" -> "g\n"))
  }

  test("a failed compact discards its staged files and changes nothing") {
    val p = s"$dir/compact_fail"
    val fs = new Path(p).getFileSystem(hconf)
    fs.delete(new Path(p), true)
    for (i <- 0 until 2)
      Seq((i.toLong, "x")).toDF("k", "s").coalesce(1)
        .write.format("graftlines").mode("append").save(p)
    // a large file whose LAST line does not parse: its task fails after
    // the small files' tasks have staged and committed theirs
    val bad = fs.create(new Path(p, "part-bad.gl"), true)
    try {
      val body = new StringBuilder(GraftLines.header(
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING")))
      body.append('\n')
      (0 until 50000).foreach(i => body.append(s"$i\ty\n"))
      body.append("not-a-number\ty\n")
      bad.write(body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally bad.close()
    def names() = fs.listStatus(new Path(p)).map(_.getPath.getName).toSet
    val before = names()
    intercept[Exception](GraftLines.compact(p, 2, spark))
    assert(names() == before,
      s"a failed compact must leave no file behind: ${names() -- before}")
  }

  test("racing first commits: one key lands from both, another is refused") {
    val fs = new Path(dir).getFileSystem(hconf)
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    // each commit's one task waits for the other's, so both drivers
    // have found the directory unkeyed before either commits
    val meet = udf { (k: Long) => KeyRace.meet(); k }.asNondeterministic()
    for (other <- Seq("g", "v")) {
      val p = s"$dir/key_race_$other"
      fs.delete(new Path(p), true)
      KeyRace.barrier = new CyclicBarrier(2)
      def commit(key: String, k: Long): Future[Try[Unit]] = Future(Try(
        spark.range(k, k + 1, 1, 1)
          .select(meet($"id").as("k"), lit(k).as("g"), lit(k).as("v"))
          .write.format("graftlines").option("partitionColumn", key)
          .mode("append").save(p)))
      val keys = Seq("g", other)
      val results = Await.result(
        Future.sequence(Seq(commit(keys(0), 1L), commit(keys(1), 2L))),
        5.minutes)
      val rows = spark.read.format("graftlines").load(p)
        .select($"k", $"g").as[(Long, Long)].collect().sorted.toSeq
      if (other == "g") {
        assert(results.forall(_.isSuccess), s"same key: $results")
        assert(rows == Seq((1L, 1L), (2L, 2L)))
        assert(GlKey.keyOf(p, hconf).contains(GlKey.Identity("g")))
      } else {
        val won = results.indexWhere(_.isSuccess)
        assert(won >= 0 && results.count(_.isSuccess) == 1,
          s"exactly one of two keys must land: $results")
        assert(chain(results(1 - won).failed.get)
          .exists(_.contains("cannot repartition")),
          s"the loser must be refused for its key: ${results(1 - won)}")
        assert(GlKey.keyOf(p, hconf).contains(GlKey.Identity(keys(won))))
        assert(rows == Seq((won + 1L, won + 1L)),
          s"only the winner's rows may land: $rows")
      }
    }
  }

  test("a key marker whose publish fails is absent, never empty") {
    hconf.set("fs.glmeta.impl", classOf[MetaFaultFileSystem].getName)
    val p = s"glmeta:$dir/key_fault"
    val fs = new Path(p).getFileSystem(hconf)
    def names: Set[String] =
      if (!fs.exists(new Path(p))) Set.empty
      else fs.listStatus(new Path(p)).map(_.getPath.getName).toSet
    def append(): Unit = Seq((1L, 2L)).toDF("k", "g").write
      .format("graftlines").option("partitionColumn", "g")
      .mode("append").save(p)
    val marker = GraftLines.PartColMarker
    for ((what, fault) <- Seq(
        "a failing rename" -> MetaFaultFileSystem.failRenamesOnto,
        "a failing write" -> MetaFaultFileSystem.failWritesOf)) {
      fs.delete(new Path(p), true)
      fault.set(Set(marker))
      try intercept[Exception](append())
      finally fault.set(Set.empty)
      assert(!names.exists(_.startsWith(marker)),
        s"$what must leave no marker, empty or staged: $names")
      assert(!names.exists(_.endsWith(GraftLines.Ext)),
        s"$what: the refused commit's rows landed: $names")
      append()
      assert(GlKey.keyOf(p, hconf).contains(GlKey.Identity("g")), what)
      assert(spark.read.format("graftlines").load(p).count() == 1, what)
    }
  }
}

/** The meeting point of the racing commits above: tasks run in the
  * driver's JVM, so a UDF reaches it without serializing it. */
object KeyRace {
  @volatile var barrier: CyclicBarrier = new CyclicBarrier(1)

  /** Waits for the other racer; a timeout or a broken barrier lets the
    * commit go on unsynchronized. */
  def meet(): Unit =
    try barrier.await(60, TimeUnit.SECONDS)
    catch { case _: TimeoutException | _: BrokenBarrierException => () }
}
