package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash-LSH dedup index — near-dup detection AGAINST
  * HISTORY, the artifact a 100 TB training-data pipeline actually
  * keeps. The in-contract dedup queries (q_dedup_minhash_lsh,
  * q_dedup_pipeline) recompute their sketches and buckets from the
  * corpus on every run; once the corpus is an ever-growing archive,
  * what a daily ingest needs is "which of TODAY'S documents near-
  * duplicate anything EVER ingested" — without re-reading, let alone
  * re-sketching, the archive. This operator persists exactly the two
  * LSH artifacts that answer that, using the engine's own storage:
  *
  *   indexDir/meta      (key, value)               graftlines, versioned
  *   indexDir/sketches  (doc_id, i, h)             graftlines, versioned,
  *                                                 clustered by doc_id
  *   indexDir/bands     (doc_id, lang, band, sig)  graftlines, versioned,
  *                                                 clustered by sig
  *
  * Sketch/band math is the dedup family's frozen convention, shared
  * verbatim (word 3-gram shingles, distinct, xxhash64 ->
  * functions.MinHash's 128-perm sketch, 32 bands x 4 rows, bucket key
  * (lang, band, sig)) — DedupIndexSpec pins that an INCREMENTALLY
  * built index reproduces q_dedup_minhash_lsh's output bit-for-bit.
  * Sketches are stored long-format (128 16-byte rows per doc) because
  * graftlines speaks scalars, not arrays; the band table is 32 rows
  * of four scalars per doc.
  *
  * Scale shape: build/append sketch ONLY the given batch (partial+
  * final minhash aggregation — the shuffle carries 1 KiB sketches,
  * never shingle sets) and append to the two tables; the archive is
  * never re-read. Serving probes the bucket table: a small batch
  * collects its <= 32*batch (band, sig) keys and PRUNES the
  * sig-clustered bands scan with a literal IN before a broadcast
  * join (file-level stats pruning — the point-lookup shape); a large
  * batch runs the same join shuffle-hash with zero driver
  * materialization. Candidates then fetch only THEIR index sketches
  * (pushed id lookup / shuffle-hash join, same dual form) for the
  * estimated-Jaccard verdict — serving never touches the document
  * corpus at all, which is the point: the index IS the history.
  * Versioning rides the graftlines generation machinery exactly like
  * operators/AnnIndex: every append advances all three tables in
  * lockstep, so `versionAsOf` addresses one uniform index version
  * (serve yesterday's index after a bad ingest).
  */
object DedupIndex {

  /** the frozen LSH geometry (functions/MinHash.scala, queries/Llm
    * q_dedup_minhash_lsh): changing any of these is a REBUILD, never
    * an append — meta pins them and [[checkGeometry]] enforces it */
  val NBands = 32
  val RowsPerBand = 4
  val NPerm = NBands * RowsPerBand // 128 — functions.MinHash.NumHashes

  /** batch size (usable docs) at or under which serving collects the
    * probe keys and prunes the index scans with literal INs; above
    * it, everything stays distributed (the AnnIndex
    * BatchQueryThreshold convention) */
  val SmallBatchThreshold = 64

  final case class Frames(meta: DataFrame, sketches: DataFrame,
      bands: DataFrame)

  /** (doc_id, lang, mh) sketches for a documents frame — the family's
    * exact shingle/sketch convention. Documents with fewer than 3
    * words have no shingles and are EXCLUDED, like the whole dedup
    * family: they cannot near-duplicate anything by 3-gram overlap. */
  def sketchFrame(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        """array_distinct(transform(sequence(0, size(w)-3),
          | i -> concat(w[i], '_', w[i+1], '_', w[i+2])))""".stripMargin))
        .as("s"))
      .select(col("doc_id"), col("lang"), xxhash64(col("s")).as("sh_hash"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("minhash128(sh_hash)").as("mh"))
  }

  /** (doc_id, lang, band, sig) band signatures — one row per (doc,
    * band), sig = xxhash64 of the band's 4 sketch rows */
  private def bandFrame(sk: DataFrame): DataFrame =
    sk.select(col("doc_id"), col("lang"), explode(expr(
      s"""transform(sequence(0, ${NBands - 1}), b -> struct(b AS band,
        | xxhash64(mh[4*b], mh[4*b+1], mh[4*b+2], mh[4*b+3]) AS sig))"""
        .stripMargin)).as("bs"))
      .select(col("doc_id"), col("lang"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))

  private def tableDirs(indexDir: String) = Seq(
    "meta", "sketches", "bands").map(t => (t, s"$indexDir/$t"))

  /** Build a fresh index over a documents frame (doc_id, lang, text
    * columns are read; extra columns ignored). The first call creates
    * the three versioned tables; every later call is a versioned
    * REPLACE — old generations stay readable via `versionAsOf`. */
  def build(s: SparkSession, indexDir: String, docs: DataFrame): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    for ((_, dir) <- tableDirs(indexDir)) {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!p.getFileSystem(conf).exists(p))
        graft.sources.GraftLines.markVersioned(dir, conf)
    }
    import s.implicits._
    val meta = Seq(("nbands", NBands.toLong),
      ("rowsperband", RowsPerBand.toLong), ("nperm", NPerm.toLong))
      .toDF("key", "value")
    meta.coalesce(1).write.format("graftlines").mode("overwrite")
      .save(s"$indexDir/meta")
    val sk = sketchFrame(docs)
    writeData(sk, indexDir, overwrite = true)
  }

  /** Append NEW documents to a persisted index as one versioned
    * commit per table — the daily-ingest path. Only the batch is
    * sketched; the archive's tables are appended to, never re-read
    * (DedupIndexSpec pins that build(base) + append(delta) equals
    * build(base ∪ delta) bit-for-bit, including through the frozen
    * q_dedup_minhash_lsh reproduction). Loud gates: ids must not
    * repeat within the batch or collide with ids already indexed (a
    * doubled id pollutes every bucket it lands in), and the usable
    * batch must be non-empty (a zero-row append would not commit a
    * generation, tearing the tables' version alignment). Sub-3-word
    * documents don't count as usable — same exclusion as [[build]].
    * The tiny meta table gets an identical-content REPLACE commit so
    * all three version counters stay aligned; the data commits come
    * after it, bands last, so an interrupted append leaves the LIVE
    * index consistent and only time travel to the torn version fails
    * loudly. */
  def append(s: SparkSession, indexDir: String, docs: DataFrame): Unit = {
    val f = loadFrames(s, indexDir)
    checkGeometry(f)
    val n = docs.count()
    val nDistinct = docs.select(col("doc_id")).distinct().count()
    require(n == nDistinct,
      s"append batch repeats ${n - nDistinct} doc_id(s) — a doubled " +
        "id would pollute every bucket it lands in")
    val sk = sketchFrame(docs)
    require(!sk.isEmpty,
      "append batch has no usable documents (empty, or all under 3 " +
        "words) — refusing a zero-row append, which would not commit " +
        "a generation and would tear the index tables' version " +
        "alignment")
    val clash = f.sketches.select(col("doc_id")).distinct()
      .join(sk.select(col("doc_id")), "doc_id").limit(3).collect()
    require(clash.isEmpty,
      s"append batch collides with doc_id(s) already in the index " +
        s"(e.g. ${clash.map(_.getLong(0)).mkString(", ")}) — " +
        "re-ingesting a document needs a rebuild, not an append")
    import s.implicits._
    val metaLocal = f.meta.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("key", "value")
    metaLocal.coalesce(1).write.format("graftlines").mode("overwrite")
      .save(s"$indexDir/meta")
    writeData(sk, indexDir, overwrite = false)
  }

  /** the two data-table writes shared by build and append: sketches
    * long-format clustered by doc_id (candidate sketch fetches prune
    * on id), bands clustered by sig (small-batch probes prune on
    * sig); bands commit LAST — they are what makes a doc findable */
  private def writeData(sk: DataFrame, indexDir: String,
      overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    sk.select(col("doc_id"), posexplode(col("mh")).as(Seq("i", "h")))
      .write.format("graftlines").mode(mode)
      .option("clusterBy", "doc_id").save(s"$indexDir/sketches")
    bandFrame(sk)
      .write.format("graftlines").mode(mode)
      .option("clusterBy", "sig").save(s"$indexDir/bands")
  }

  /** Retire old index versions — the retention half of the
    * build/append/ingest lifecycle (the AnnIndex.expire contract:
    * per-table expiry under the lockstep-version invariant, loud on
    * any alignment breach, time travel to a retired version fails
    * loudly at read). Returns the dropped generation numbers. */
  def expire(s: SparkSession, indexDir: String, keepLast: Int): Seq[Int] = {
    val conf = s.sparkContext.hadoopConfiguration
    val dropped = tableDirs(indexDir).map { case (t, dir) =>
      t -> graft.sources.GraftLines.expireVersions(dir, keepLast, conf)._1
    }
    val sets = dropped.map(_._2).distinct
    require(sets.size == 1,
      s"index tables retired DIFFERENT generation sets — version " +
        s"alignment is broken: $dropped")
    sets.head
  }

  /** Load one index version's frames back from storage. */
  def loadFrames(s: SparkSession, indexDir: String,
      versionAsOf: Option[Int] = None): Frames = {
    def rd(t: String) = {
      val r = s.read.format("graftlines")
      versionAsOf.fold(r)(v => r.option("versionAsOf", v))
        .load(s"$indexDir/$t")
    }
    Frames(rd("meta"), rd("sketches"), rd("bands"))
  }

  /** geometry gate shared by serve and append: an index written under
    * a DIFFERENT banding must never be served or appended by this
    * code — wrong banding silently changes which pairs exist */
  private def checkGeometry(f: Frames): Unit = {
    val m = f.meta.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(m.get("nbands").contains(NBands.toLong) &&
        m.get("rowsperband").contains(RowsPerBand.toLong) &&
        m.get("nperm").contains(NPerm.toLong),
      s"index geometry $m != the serving code's $NBands x $RowsPerBand " +
        s"bands over $NPerm perms — rebuild, don't cross-serve")
  }

  /** (doc_id, mh) sketch arrays reconstructed from the long format */
  private def sketchArr(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(i, h)))," +
        " x -> x.h)").as("mh"))

  /** estimated Jaccard = fraction of agreeing sketch rows — the same
    * verdict column q_dedup_minhash_lsh emits */
  private def estJac(cand: DataFrame, mhA: DataFrame,
      mhB: DataFrame): DataFrame =
    cand.join(mhA, "a").join(mhB, "b")
      .select(col("a"), col("b"), round(expr(
        s"size(filter(zip_with(mha, mhb, (x, y) -> x = y), p -> p)) " +
          s"/ ${NPerm.toDouble}"), 4).as("est_jac"))
      .orderBy(col("a"), col("b"))

  /** All near-dup candidate pairs WITHIN the index, with estimated
    * Jaccard — bit-for-bit the frozen q_dedup_minhash_lsh output when
    * the index covers that query's corpus (DedupIndexSpec's standing
    * gate, which is what proves storage loses nothing). Same streamed
    * in-bucket pair expansion as the query: per-row memory stays O(k)
    * on a hot bucket, ids sorted so a < b by construction. */
  def selfPairs(s: SparkSession, f: Frames): DataFrame = {
    checkGeometry(f)
    val cand = f.bands
      .groupBy(col("lang"), col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a"), explode(
        expr("slice(ids, i + 2, size(ids) - i - 1)")).as("b"))
      .distinct()
    val mh = sketchArr(f.sketches)
    estJac(cand,
      mh.select(col("doc_id").as("a"), col("mh").as("mha")),
      mh.select(col("doc_id").as("b"), col("mh").as("mhb")))
  }

  /** Near-dup pairs of a NEW batch against the index — `a` is the
    * indexed (historical) doc, `b` the batch doc, est_jac the sketch
    * verdict. Dispatches on usable batch size like AnnIndex.serveFrom:
    * a probe-sized batch gets the pruned point-lookup shape, a bulk
    * batch the all-distributed join shape — identical rows either way
    * (DedupIndexSpec pins it). */
  def pairsAgainst(s: SparkSession, f: Frames, docs: DataFrame): DataFrame = {
    val sk = sketchFrame(docs)
    if (sk.count() > SmallBatchThreshold) pairsAgainstJoin(s, f, docs)
    else pairsAgainstCollect(s, f, docs)
  }

  /** Point-lookup serving: collect the batch's band keys (<= 32 *
    * batch rows of two longs) and its candidate ids, and prune BOTH
    * index scans with literal INs — on the sig-clustered bands table
    * and the id-clustered sketches table those are file-level stats
    * prunes, the index-side cost a 3-document probe deserves. */
  def pairsAgainstCollect(s: SparkSession, f: Frames,
      docs: DataFrame): DataFrame = {
    checkGeometry(f)
    val sk = sketchFrame(docs)
    val bNew = bandFrame(sk)
    val sigs = bNew.select(col("sig")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cand = candPairs(
      f.bands.filter(col("sig").isin(sigs.map(java.lang.Long.valueOf): _*)),
      bNew, broadcastNew = true)
    val aIds = cand.select(col("a")).distinct()
      .collect().map(_.getLong(0)).sorted
    val mhA = sketchArr(f.sketches.filter(
        col("doc_id").isin(aIds.map(java.lang.Long.valueOf): _*)))
      .select(col("doc_id").as("a"), col("mh").as("mha"))
    estJac(broadcast(cand), mhA,
      sk.select(col("doc_id").as("b"), col("mh").as("mhb")))
  }

  /** Bulk serving: the same candidate join and sketch fetch with
    * everything distributed (shuffle-hash, no driver materialization
    * anywhere in the plan) — the shape a backfill-sized batch needs. */
  def pairsAgainstJoin(s: SparkSession, f: Frames,
      docs: DataFrame): DataFrame = {
    checkGeometry(f)
    val sk = sketchFrame(docs)
    val cand = candPairs(f.bands, bandFrame(sk), broadcastNew = false)
    val mhA = sketchArr(f.sketches)
      .select(col("doc_id").as("a"), col("mh").as("mha"))
    estJac(cand.hint("shuffle_hash"), mhA,
      sk.select(col("doc_id").as("b"), col("mh").as("mhb")))
  }

  /** candidate (a, b) pairs: index bands ⋈ batch bands on the bucket
    * key (lang, band, sig), self-matches dropped, de-duplicated
    * across bands */
  private def candPairs(indexBands: DataFrame, newBands: DataFrame,
      broadcastNew: Boolean): DataFrame = {
    val nb = newBands.select(col("doc_id").as("b"),
      col("lang").as("lang_b"), col("band").as("band_b"),
      col("sig").as("sig_b"))
    val right = if (broadcastNew) broadcast(nb) else nb.hint("shuffle_hash")
    indexBands.join(right,
        col("lang") === col("lang_b") && col("band") === col("band_b")
          && col("sig") === col("sig_b"))
      .filter(col("doc_id") =!= col("b"))
      .select(col("doc_id").as("a"), col("b"))
      .distinct()
  }

  /** Serve from the PERSISTED index — load + probe, zero construction. */
  def pairsAgainstDir(s: SparkSession, indexDir: String, docs: DataFrame,
      versionAsOf: Option[Int] = None): DataFrame =
    pairsAgainst(s, loadFrames(s, indexDir, versionAsOf), docs)

  /** What [[ingest]] decided, as audit frames PINNED to the pre-ingest
    * index version — they stay bit-stable after the append commits
    * (a live-table frame re-lists files at execution time and would
    * silently include the ingest's own append).
    *   kept                  the surviving batch rows (full columns)
    *   droppedAgainstHistory (a = indexed doc, b = batch doc, est_jac)
    *   withinBatchEdges      (a, b, est_jac) — the thresholded
    *                         near-dup EDGES among the post-history
    *                         batch (a < b): the evidence the
    *                         clustering ran on. One doc per connected
    *                         cluster (its minimum id) is in `kept`;
    *                         the rest are the within-batch drops.
    *                         Edges, not keeper→victim pairs, because
    *                         a transitive drop (A~B~C, A!~C) has no
    *                         single eliminating pair to cite. */
  final case class IngestReport(kept: DataFrame,
      droppedAgainstHistory: DataFrame, withinBatchEdges: DataFrame)

  /** The production ingest loop in one call — dedup a new batch
    * against ALL of history, then within itself, then index only the
    * survivors:
    *
    *   1. probe the batch against the index ([[pairsAgainst]]); batch
    *      docs with est_jac >= threshold against ANY indexed doc are
    *      dropped — history always outranks the batch
    *      (first-writer-wins, the streaming-dedup contract);
    *   2. LSH the remaining batch against itself, keep ONE doc per
    *      near-dup cluster (the minimum doc_id, via the engine's
    *      ConnectedComponents — transitive, so A~B~C keeps only A
    *      even when A!~C directly);
    *   3. [[append]] the survivors as one versioned commit.
    *
    * Post-condition (DedupIndexSpec): the indexed corpus has NO pair
    * at or above the threshold beyond those the initial [[build]]
    * already contained — greedily ingested history stays clean.
    *
    * Sub-3-word documents are KEPT but not indexed (they have no
    * shingles, so they can near-duplicate nothing by this family's
    * measure — and being unindexed, a later batch cannot collide
    * with their ids); a batch whose survivors are all such docs
    * commits nothing. The threshold applies to ESTIMATED Jaccard
    * (sketch agreement), the same verdict column the frozen LSH
    * query emits. */
  def ingest(s: SparkSession, indexDir: String, docs: DataFrame,
      threshold: Double = 0.8): IngestReport = {
    require(threshold > 0d && threshold <= 1d,
      s"threshold $threshold outside (0, 1]")
    val conf = s.sparkContext.hadoopConfiguration
    val v = graft.sources.GraftLines.currentVersion(s"$indexDir/bands", conf)
    require(v > 0,
      s"ingest needs a built index at $indexDir — run build() first " +
        "(an empty history is a build, not an ingest)")
    val f = loadFrames(s, indexDir, versionAsOf = Some(v))
    val histDropped = pairsAgainst(s, f, docs)
      .filter(col("est_jac") >= threshold)
    val surv0 = docs.join(
      histDropped.select(col("b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // within-batch near-dups among the remaining docs: the selfPairs
    // machinery over in-flight sketches (same bucket key, same
    // streamed expansion), thresholded, clustered, min-id kept
    val sk = sketchFrame(surv0)
    val cand = bandFrame(sk)
      .groupBy(col("lang"), col("band"), col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
      .select(col("a"), explode(
        expr("slice(ids, i + 2, size(ids) - i - 1)")).as("b"))
      .distinct()
    val batchPairs = estJac(cand,
        sk.select(col("doc_id").as("a"), col("mh").as("mha")),
        sk.select(col("doc_id").as("b"), col("mh").as("mhb")))
      .filter(col("est_jac") >= threshold)
      .localCheckpoint() // consumed twice (labels + report) — and the
                         // report must stay stable after the append
    val labels = ConnectedComponents.label(
      batchPairs.select(col("a"), col("b")))
    val withinDroppedIds = labels
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"))
    val kept = surv0.join(withinDroppedIds, Seq("doc_id"), "left_anti")
      .localCheckpoint() // stable across the append below
    if (!sketchFrame(kept).isEmpty) append(s, indexDir, kept)
    IngestReport(kept, histDropped, batchPairs)
  }
}
