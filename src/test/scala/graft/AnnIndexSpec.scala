package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AnnIndex

/** Persistent IVF-PQ index contract (build/store/serve split — a
  * gate-verified surface like Hnsw, not a contract query key):
  *
  *  1. persistence fidelity — serving from the LOADED index
  *     hash-equals scoring the in-memory build frames (so storage
  *     loses nothing: codes, codebooks, and cell layout round-trip);
  *  2. recall — the served answer recovers the exact top-5 at the
  *     family's 0.85 floor;
  *  3. no construction at serve time — every corpus scan in the serve
  *     plan carries the query-id pushdown (the corpus is never
  *     re-scanned to assign or encode), and the postings scan is
  *     pruned to the probed cells;
  *  4. versioning — a rebuild is a versioned replace; `versionAsOf`
  *     serves the OLD index bit-for-bit after the new one lands.
  */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("serving the persisted index hash-equals scoring the build frames") {
    val dir = GraftTmp.dir("ann_index_fid")
    val direct = rows(AnnIndex.serveFrom(spark, TestSpark.sf001,
      AnnIndex.buildFrames(spark, TestSpark.sf001)))
    AnnIndex.build(spark, TestSpark.sf001, dir)
    val served = rows(AnnIndex.serve(spark, TestSpark.sf001, dir))
    assert(served == direct,
      "persistence must not change a single served row")
    assert(served.nonEmpty, "served answer is empty")
  }

  test("served recall@5 vs exact top-k on sf0.01") {
    val dir = GraftTmp.dir("ann_index_recall")
    AnnIndex.build(spark, TestSpark.sf001, dir)
    val exact = SparkEntry.queries("q_sim_cosine_topk")(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int, refineFactor: Int): Double = {
      val got = AnnIndex.serve(spark, TestSpark.sf001, dir,
        nprobe = nprobe, refineFactor = refineFactor)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    // exhaustive dials = EXACT: probing every cell and refining the
    // whole shortlist must reproduce the exact top-k bit-for-bit —
    // the strongest whole-index sanity (cells complete, codes usable,
    // refine truly exact). 100*5 = 500 >= corpus, so nothing is cut.
    val exhaustive = recallAt(16, 100)
    info(s"IVFPQ served recall@5 (exhaustive dials) = $exhaustive")
    assert(exhaustive == 1.0,
      s"exhaustive-dial recall $exhaustive != 1.0 — the index LOSES " +
        "vectors or the refine is not exact")
    // ADC-quality floor: exhaustive probe, production refine depth —
    // recall is now bounded only by ADC shortlist ordering (same
    // data-derived-codebook quality class AnnPqSpec gates at 0.3)
    val adc = recallAt(16, 8)
    info(s"IVFPQ served recall@5 (nprobe=16, refine=8) = $adc")
    assert(adc >= 0.5, s"ADC-shortlist recall $adc below 0.5")
    // default production dials: additionally bounded by the IVF probe
    // (the in-query IVF/IVFPQ floor class)
    val dflt = recallAt(12, 8)
    info(s"IVFPQ served recall@5 (default dials) = $dflt")
    assert(dflt >= 0.3,
      s"default-dial recall $dflt below the IVF floor class")
  }

  test("serve plan: no corpus re-scan, postings pruned to probed cells") {
    val dir = GraftTmp.dir("ann_index_plan")
    AnnIndex.build(spark, TestSpark.sf001, dir)
    // (a) the ADC-shortlist stage holds every INDEX read: it must scan
    // the stored graftlines tables, with the postings scan pruned to
    // the probed cells, and its only corpus scan is the 10-vector
    // query probe
    val f = AnnIndex.loadFrames(spark, dir)
    val short = AnnIndex.adcShortlist(spark, TestSpark.sf001, f,
      nprobe = 6)
    val sp = short.queryExecution.executedPlan.toString
    assert(sp.contains("BatchScan") || sp.contains("GlScan"),
      s"shortlist plan never reads the stored index:\n$sp")
    assert(sp.toLowerCase.contains("in(cell"),
      s"postings scan is not pruned to the probed cells:\n$sp")
    sp.split("\n").filter(l => l.contains("Scan parquet")
        || l.contains("FileScan parquet")).foreach { l =>
      assert(l.contains("LessThan(vec_id,10)"),
        s"shortlist-stage corpus scan without the query pushdown:\n$l")
    }
    // (b) the served frame holds only the REFINE stage: every corpus
    // scan carries an id pushdown (the query probe or the shortlist
    // point-lookup) — index CONSTRUCTION needs a full corpus scan, so
    // the absence of any unfiltered scan is the "no construction at
    // serve time" pin
    val served = AnnIndex.serve(spark, TestSpark.sf001, dir)
    val plan = served.queryExecution.executedPlan.toString
    val scans = plan.split("\n").filter(l =>
      l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans.nonEmpty, s"no parquet scans found in:\n$plan")
    scans.foreach { l =>
      assert(l.contains("LessThan(vec_id,10)") || l.contains("In(vec_id"),
        s"corpus scan without an id pushdown — construction " +
          s"at serve time?\n$l")
    }
  }

  test("sf0.1 scale gate: build + serve at 10x the fixture corpus, exhaustive dials exact") {
    // the same exactness invariant as the sf0.01 gate, at 5 000
    // vectors: cells complete, codes usable, refine exact — and the
    // build stays a single corpus pass (14.5 s build / 4.6 s serve
    // measured at local[4]; recorded so a regression is visible)
    val dir = GraftTmp.dir("ann_index_sf01")
    AnnIndex.build(spark, TestSpark.sf01, dir)
    val served = AnnIndex.serve(spark, TestSpark.sf01, dir)
    assert(served.count() == 50) // 10 queries x top-5
    val exact = SparkEntry.queries("q_sim_cosine_topk")(spark, TestSpark.sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = AnnIndex.serve(spark, TestSpark.sf01, dir,
      nprobe = 16, refineFactor = 1000)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exact intersect got).size == exact.size,
      "exhaustive dials must reproduce the exact top-k at sf0.1")
  }

  test("batch join-form serve hash-equals the collect form") {
    val dir = GraftTmp.dir("ann_index_batch")
    AnnIndex.build(spark, TestSpark.sf001, dir)
    val f = AnnIndex.loadFrames(spark, dir)
    val collectForm = rows(AnnIndex.serveCollectFrom(spark,
      TestSpark.sf001, f))
    val joinForm = AnnIndex.serveBatchFrom(spark, TestSpark.sf001, f)
    assert(rows(joinForm) == collectForm,
      "the batch refine must produce the collect refine's exact rows")
    // no driver materialization anywhere in the batch plan: the
    // collect form's shortlist surfaces as a LocalTableScan; the
    // batch form must carry the full ADC lineage instead
    val bp = joinForm.queryExecution.executedPlan.toString
    assert(!bp.contains("LocalTableScan"),
      s"batch plan materializes the shortlist on the driver:\n$bp")
    assert(bp.contains("ShuffledHashJoin"),
      s"batch refine is not a shuffle-hash join:\n$bp")
    // the 10-query fixture probe set keeps serveFrom on the collect
    // path (dispatch threshold), whose shortlist IS a local relation
    val cp = AnnIndex.serveFrom(spark, TestSpark.sf001, f)
      .queryExecution.executedPlan.toString
    assert(cp.contains("LocalTableScan"),
      "small probe set unexpectedly dispatched to the batch form")
  }

  test("an incomplete PQ codebook fails loudly, never NULL-ranks") {
    val f = AnnIndex.buildFrames(spark, TestSpark.sf001)
    // drop one centroid from one subspace — the silent-corruption
    // shape ADVICE r15 named: qdt[m][nib] would be NULL for any code
    // referencing it
    val truncated = f.copy(pq =
      f.pq.filter(!(col("m") === 3 && col("cid") === 7)))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.adcShortlist(spark, TestSpark.sf001, truncated)
    }
    assert(e.getMessage.contains("PQ codebook incomplete"))
    // and a coarse/meta cell-count mismatch fails too
    val fewerCells = f.copy(coarse = f.coarse.filter(col("cell") < 12))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.adcShortlist(spark, TestSpark.sf001, fewerCells)
    }
    assert(e2.getMessage.contains("cells"))
  }

  test("append to a built index serves a full rebuild's exact rows") {
    // the daily-ingest path: build over a base corpus, append the
    // rest as a batch, serve against the full corpus. Because the
    // codebooks are the 16 lowest vec_ids (all in the base) and
    // append encodes against the STORED codebooks, append(delta)
    // after build(base) must land the exact index build(base ∪ delta)
    // computes — so the served answers are row-for-row comparable.
    val full = Tables.embeddings(spark, TestSpark.sf001)
    val cut = 300L
    val baseDir = GraftTmp.dir("ann_append_basecorpus")
    full.filter(col("vec_id") < cut)
      .write.mode("overwrite").parquet(s"$baseDir/embeddings.parquet")
    val idx = GraftTmp.dir("ann_append_idx")
    AnnIndex.build(spark, baseDir, idx)
    val preAppend = rows(AnnIndex.serve(spark, TestSpark.sf001, idx))

    // the encode plan never touches the postings table (the base is
    // not re-read or re-encoded) — only the codebooks + the batch
    val f = AnnIndex.loadFrames(spark, idx)
    val delta = full.filter(col("vec_id") >= cut)
    val ep = AnnIndex.appendFrames(f, delta)
      .queryExecution.executedPlan.toString
    assert(!ep.contains("postings"),
      s"append encode plan re-reads the postings table:\n$ep")

    AnnIndex.append(spark, idx, delta)
    val appended = rows(AnnIndex.serve(spark, TestSpark.sf001, idx))
    val fullIdx = GraftTmp.dir("ann_append_fullidx")
    AnnIndex.build(spark, TestSpark.sf001, fullIdx)
    assert(appended == rows(AnnIndex.serve(spark, TestSpark.sf001, fullIdx)),
      "append(delta) over build(base) must serve build(full)'s rows")
    // the appended postings hold exactly the full corpus's usable rows
    assert(AnnIndex.loadFrames(spark, idx).postings.count() ==
      AnnIndex.loadFrames(spark, fullIdx).postings.count())
    // versionAsOf addresses the PRE-append index bit-for-bit — the
    // codebook touch commits keep all four tables' versions aligned
    val v1 = rows(AnnIndex.serve(spark, TestSpark.sf001, idx,
      versionAsOf = Some(1)))
    assert(v1 == preAppend,
      "time travel must serve the pre-append index bit-for-bit")
  }

  test("append refuses collisions, duplicates, short vectors, empty batches") {
    val full = Tables.embeddings(spark, TestSpark.sf001)
    val idx = GraftTmp.dir("ann_append_guards")
    AnnIndex.build(spark, TestSpark.sf001, idx)
    val f = AnnIndex.loadFrames(spark, idx)
    // an id already in the index
    val clash = intercept[IllegalArgumentException] {
      AnnIndex.appendFrames(f, full.filter(col("vec_id") < 5))
    }
    assert(clash.getMessage.contains("collides"), s"$clash")
    // an id repeated within the batch (shift past the corpus range to
    // dodge the collision gate and hit the duplicate gate)
    val fresh = full.filter(col("vec_id") < 4)
      .withColumn("vec_id", col("vec_id") % 2 + 10000L)
    val dup = intercept[IllegalArgumentException] {
      AnnIndex.appendFrames(f, fresh)
    }
    assert(dup.getMessage.contains("repeats"), s"$dup")
    // a vector of the wrong length
    val short = full.filter(col("vec_id") === 7)
      .withColumn("vec_id", lit(20000L))
      .withColumn("embedding", expr("slice(embedding, 1, 7)"))
    val badLen = intercept[IllegalArgumentException] {
      AnnIndex.appendFrames(f, short)
    }
    assert(badLen.getMessage.contains("dims"), s"$badLen")
    // an empty batch
    val empty = intercept[IllegalArgumentException] {
      AnnIndex.appendFrames(f, full.filter(col("vec_id") < 0))
    }
    assert(empty.getMessage.contains("no usable"), s"$empty")
  }

  test("expire retires versions in lockstep; retired time travel fails loudly") {
    // start from a CLEAN directory: GraftTmp paths are deterministic
    // per user, and generation NUMBERS (unlike index content) are not
    // deterministic across accumulated re-runs
    val dir = GraftTmp.dir("ann_index_expire")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    AnnIndex.build(spark, TestSpark.sf001, dir, ncells = 16)
    AnnIndex.build(spark, TestSpark.sf001, dir, ncells = 8)
    val live = rows(AnnIndex.serve(spark, TestSpark.sf001, dir))
    assert(AnnIndex.expire(spark, dir, keepLast = 1) == Seq(1),
      "expire must report the one retired generation")
    // live serving is untouched by retention
    assert(rows(AnnIndex.serve(spark, TestSpark.sf001, dir)) == live)
    // time travel to the retired version fails loudly, never serves
    // a partial reconstruction
    val e = intercept[IllegalArgumentException] {
      AnnIndex.serve(spark, TestSpark.sf001, dir,
        versionAsOf = Some(1)).collect()
    }
    assert(e.getMessage.contains("generation"), s"$e")
  }

  test("versionAsOf serves the old index after a rebuild") {
    val dir = GraftTmp.dir("ann_index_ver")
    AnnIndex.build(spark, TestSpark.sf001, dir, ncells = 16)
    val v1 = rows(AnnIndex.serve(spark, TestSpark.sf001, dir))
    // rebuild with a different geometry — a REAL index change: cell
    // layout, probes, and candidates all move
    AnnIndex.build(spark, TestSpark.sf001, dir, ncells = 8)
    val v2 = rows(AnnIndex.serve(spark, TestSpark.sf001, dir))
    val v1again = rows(AnnIndex.serve(spark, TestSpark.sf001, dir,
      versionAsOf = Some(1)))
    assert(v1again == v1,
      "time travel must serve the generation-1 index bit-for-bit")
    // the rebuilt index must actually be the live one
    val meta = AnnIndex.loadFrames(spark, dir).meta.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(meta("ncells") == 8L, s"live meta is stale: $meta")
    assert(v2.nonEmpty)
  }
}
