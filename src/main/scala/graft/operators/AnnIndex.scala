package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ ANN index — the build/store/serve split every
  * in-query ANN operator (q_sim_ann_lsh / _ivf / _pq, Hnsw) lacks.
  * Those rebuild their structures inside the query; at 100 TB an ANN
  * index is an ARTIFACT you build once, version, and reuse, and this
  * operator makes it one using nothing but the engine's own storage:
  *
  *   indexDir/meta     (key, value)               graftlines, versioned
  *   indexDir/coarse   (cell, dim, value)         graftlines, versioned
  *   indexDir/pq       (m, cid, dim, value)       graftlines, versioned
  *   indexDir/postings (cell, vec_id, code)       graftlines, versioned,
  *                                                identity-partitioned by cell
  *
  * The composition is the production IVFPQ (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search"): an IVF coarse quantizer
  * prunes the corpus to `nprobe` of `ncells` cells, and within the
  * probed cells ranking runs on 8-BYTE PQ codes (16 subspaces x 4 dims,
  * 16 centroids each -> 16 nibbles packed into ONE BIGINT) via
  * asymmetric distance computation — the index stores NO float vectors
  * at all, which is both the 32x memory compression that makes the
  * serving tier affordable and what lets the postings table live in
  * graftlines' scalar column model. Both quantizers use the engine's
  * deterministic k-means stand-in (the 16 lowest vec_ids, the same
  * convention q_sim_ann_ivf / q_sim_ann_pq gate on).
  *
  * Scale shape: build is one corpus scan (assignment and encode are
  * map-side-combinable min_by aggregations against broadcast
  * centroids); postings are CLUSTERED BY CELL at write time
  * (`partitionColumn`), so a serve probing `nprobe` cells statically
  * prunes the scan to `nprobe/ncells` of the index files — the scan
  * carries 16 bytes a row, never the embeddings. Serving derives
  * NOTHING from the corpus except the query vectors themselves
  * (AnnIndexSpec pins that every embeddings scan in the serve plan
  * carries the query-id pushdown). Versioning rides the graftlines
  * generation machinery: each rebuild is a versioned REPLACE commit,
  * so `versionAsOf` serves any historical index from the same
  * directory — time travel for recall audits after a bad rebuild.
  */
object AnnIndex {

  /** index geometry + the frames that make up one built index */
  final case class Frames(meta: DataFrame, coarse: DataFrame,
      pq: DataFrame, postings: DataFrame)

  val NSub = 16
  val SubDim = 4
  val Dims = NSub * SubDim

  private val l2 = "sqrt(fdot(embedding, embedding))"

  /** unit-normalize a raw (vec_id, embedding) frame; degenerate rows
    * (zero / NaN / Inf norm) are EXCLUDED like the whole similarity
    * family does — on normalized vectors L2 is monotone in cosine
    * (|a-b|^2 = 2 - 2cos), so every distance below is squared L2.
    * fdot comes from [[graft.GraftExtensions]] on the frame's session. */
  private def normalize(raw: DataFrame): DataFrame = raw
    .withColumn("nrm", expr(l2))
    .filter(col("nrm") > 0d && col("nrm") < Double.PositiveInfinity)
    .withColumn("nemb",
      expr("transform(embedding, x -> cast(x / nrm as double))"))
    .select(col("vec_id"), col("nemb"))

  /** the corpus table, normalized */
  private def corpus(s: SparkSession, d: String): DataFrame = {
    normalize(graft.Tables.embeddings(s, d))
  }

  /** squared L2 between two equal-length double arrays */
  private def d2(a: String, b: String) =
    expr(s"""aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)),
      | cast(0.0 as double), (acc, v) -> acc + v)""".stripMargin)

  /** Build the index frames from the corpus — pure plan construction,
    * shared verbatim by [[build]] (which persists them) and by
    * AnnIndexSpec's persistence-fidelity gate (which scores them
    * in-memory and demands hash-equality with the served answer). */
  def buildFrames(s: SparkSession, d: String, ncells: Int = 16): Frames = {
    require(ncells >= 1 && ncells <= 16,
      s"ncells $ncells outside the 16-seed-vector stand-in's range")
    val emb = corpus(s, d)
    // seed selection is ORDER BY vec_id LIMIT n — the family's stated
    // convention ("the n lowest vec_ids"), NOT filter(vec_id < n): the
    // corpus() degenerate-norm exclusion runs first, so a filter form
    // would silently hand back a SHORT codebook whenever one of ids
    // 0..15 is zero-norm, and a short codebook corrupts ADC ranking
    // through NULL lookups instead of failing (ADVICE r15). The
    // cell/cid name is the seed's RANK (dense 0..n-1, == vec_id on a
    // healthy corpus), never the vec_id itself — a cid past 15 would
    // not fit the nibble encoding. The single-partition window is
    // over ≤ 16 rows (post-limit), not the corpus.
    def lowest(n: Int) = emb.orderBy(col("vec_id")).limit(n)
      .withColumn("seed", (row_number().over(
        Window.orderBy(col("vec_id"))) - 1).cast("int"))
    // coarse centroids: the ncells lowest vec_ids, long format
    val coarse = lowest(ncells)
      .select(col("seed").as("cell"),
        posexplode(col("nemb")).as(Seq("dim", "value")))
    // PQ codebooks: subvectors of the 16 lowest vec_ids, long format
    val pq = lowest(NSub)
      .select(col("seed").as("cid"),
        explode(expr(s"""transform(sequence(0, ${NSub - 1}),
          | m -> struct(m AS m, slice(nemb, m * $SubDim + 1, $SubDim)
          |   AS c_sub))""".stripMargin)).as("e"))
      .select(col("e.m").as("m"), col("cid"),
        posexplode(col("e.c_sub")).as(Seq("dim", "value")))
    // assignment + encode against the seed codebooks — the same plan
    // [[append]] runs against the STORED codebooks
    val cent = lowest(ncells)
      .select(col("seed").as("cell"), col("nemb").as("c_emb"))
    val cbArr = lowest(NSub)
      .select(col("seed").as("cid"),
        explode(expr(s"""transform(sequence(0, ${NSub - 1}),
          | m -> struct(m AS m, slice(nemb, m * $SubDim + 1, $SubDim)
          |   AS c_sub))""".stripMargin)).as("e"))
      .select(col("e.m").as("m"), col("cid"), col("e.c_sub").as("c_sub"))
    val postings = encodePostings(emb, cent, cbArr)
    import s.implicits._
    val meta = Seq(
      ("ncells", ncells.toLong), ("nsub", NSub.toLong),
      ("subdim", SubDim.toLong), ("dims", Dims.toLong))
      .toDF("key", "value")
    Frames(meta, coarse, pq, postings)
  }

  /** The one assignment + PQ-encode plan, shared by [[buildFrames]]
    * (seed codebooks) and [[appendFrames]] (stored codebooks).
    * `emb`: (vec_id, nemb) normalized batch; `cent`: (cell, c_emb);
    * `cbArr`: (m, cid, c_sub). Returns (cell, vec_id, code).
    *
    * Cell assignment is argmin_cell |nemb - centroid|^2 with ties to
    * the low cell — a map-side-combinable min_by against BROADCAST
    * centroids, never a window sort; PQ encode is per-(vector,
    * subspace) argmin centroid -> nibble, 16 nibbles packed into one
    * BIGINT (code = sum code_m << 4m). One scan of the batch. */
  private def encodePostings(emb: DataFrame, cent: DataFrame,
      cbArr: DataFrame): DataFrame = {
    val assign = emb.crossJoin(broadcast(cent))
      .withColumn("cd2", d2("nemb", "c_emb"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("cell"), struct(col("cd2"), col("cell"))).as("cell"))
    val subs = emb.select(col("vec_id"),
      explode(expr(s"""transform(sequence(0, ${NSub - 1}),
        | m -> struct(m AS m, slice(nemb, m * $SubDim + 1, $SubDim)
        |   AS sub))""".stripMargin)).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))
    val codes = subs.join(broadcast(cbArr), Seq("m"))
      .withColumn("sd2", d2("sub", "c_sub"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("cid"), struct(col("sd2"), col("cid"))).as("nib"))
      .groupBy(col("vec_id"))
      .agg(expr("""aggregate(collect_list(struct(m, nib)),
        | cast(0 as bigint),
        | (acc, x) -> acc + shiftleft(cast(x.nib as bigint), x.m * 4))"""
        .stripMargin).as("code"))
    assign.join(codes, "vec_id")
      .select(col("cell"), col("vec_id"), col("code"))
  }

  /** (cell, c_emb) centroids in array form, reconstructed from the
    * long-format stored coarse table — metadata-sized (ncells rows) */
  private def storedCent(f: Frames): DataFrame =
    f.coarse.groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, value)))," +
        " x -> x.value)").as("c_emb"))

  /** (m, cid, c_sub) PQ codebook in array form, reconstructed from
    * the long-format stored pq table — metadata-sized (<= 256 rows) */
  private def storedCb(f: Frames): DataFrame =
    f.pq.groupBy(col("m"), col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, value)))," +
        " x -> x.value)").as("c_sub"))

  private def tableDirs(indexDir: String) = Seq(
    "meta", "coarse", "pq", "postings").map(t => (t, s"$indexDir/$t"))

  /** Build and persist one index VERSION. The first call creates the
    * four versioned tables; every later call is a versioned REPLACE
    * commit — old generations stay readable via `versionAsOf`. */
  def build(s: SparkSession, d: String, indexDir: String,
      ncells: Int = 16): Unit = {
    val f = buildFrames(s, d, ncells)
    val conf = s.sparkContext.hadoopConfiguration
    for ((_, dir) <- tableDirs(indexDir)) {
      val p = new org.apache.hadoop.fs.Path(dir)
      if (!p.getFileSystem(conf).exists(p))
        graft.sources.GraftLines.markVersioned(dir, conf)
    }
    def save(df: DataFrame, t: String, part: Option[String]): Unit = {
      // codebook tables are metadata-sized — one file each; postings
      // keep their parallelism and the partitionColumn write clusters
      // them so each file holds a single cell (the pruning contract)
      val base = if (part.isEmpty) df.coalesce(1) else df
      val w = base.write.format("graftlines").mode("overwrite")
      part.fold(w)(c => w.option("partitionColumn", c))
        .save(s"$indexDir/$t")
    }
    save(f.meta, "meta", None)
    save(f.coarse, "coarse", None)
    save(f.pq, "pq", None)
    save(f.postings, "postings", Some("cell"))
  }

  /** Geometry + completeness gates shared by the serve and append
    * paths — returns the declared ncells. Fails LOUDLY on an
    * incomplete codebook (ADVICE r15): a missing (m, cid) makes
    * qdt[m][nib] NULL for any code referencing it, and a NULL ADC
    * distance silently corrupts row_number ranking instead of
    * erroring; an append against such an index would mint codes no
    * server can rank. All checks are metadata-table aggregates
    * (≤ 1024 rows each). */
  private def checkCodebooks(f: Frames): Int = {
    val metaMap = f.meta.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ncells = metaMap("ncells").toInt
    val nsub = metaMap("nsub").toInt
    require(nsub == NSub && metaMap("subdim").toInt == SubDim,
      s"index geometry ${metaMap} != the serving code's $NSub x $SubDim")
    val cidsPerM = f.pq.groupBy(col("m"))
      .agg(countDistinct(col("cid")).as("ncid")).collect()
    require(cidsPerM.length == NSub &&
        cidsPerM.forall(_.getLong(1) == NSub.toLong),
      s"PQ codebook incomplete: ${cidsPerM.length} subspaces, cids " +
        s"per m = ${cidsPerM.map(r => s"${r.getInt(0)}:${r.getLong(1)}")
          .sorted.mkString(",")} — expected $NSub x $NSub; the index " +
        "was built from a corpus with fewer than 16 usable seed vectors")
    val storedCells = f.coarse.select(col("cell")).distinct().count()
    require(storedCells == ncells.toLong,
      s"coarse codebook has $storedCells cells, meta declares $ncells")
    ncells
  }

  /** Encode a batch of NEW vectors against an existing index's STORED
    * codebooks — the plan [[append]] persists. Returns (cell, vec_id,
    * code) for exactly the batch's usable rows: one scan of the batch
    * against the broadcast codebooks; the base corpus is never read
    * (AnnIndexSpec pins that the encode plan touches no postings).
    *
    * Loud gates, because an append is the one write that can corrupt
    * an index nobody rebuilds: vector length must equal the index
    * dims (slice() on a short array would silently encode garbage
    * subvectors), ids must not repeat within the batch or collide
    * with ids already in the index (a doubled id surfaces twice in
    * every shortlist), and the usable batch must be non-empty (a
    * zero-row append would not commit a generation, tearing the
    * four tables' version alignment). Degenerate-norm rows are
    * EXCLUDED like everywhere in the similarity family — by the
    * same normalize() the build runs, so append(delta) after
    * build(base) lands the exact rows build(base ∪ delta) would. */
  def appendFrames(f: Frames, newVecs: DataFrame)
      : DataFrame = {
    checkCodebooks(f)
    val badLen = newVecs
      .filter(size(col("embedding")) =!= lit(Dims))
      .select(col("vec_id")).limit(3).collect()
    require(badLen.isEmpty,
      s"append batch has vectors whose length != the index's $Dims " +
        s"dims (e.g. vec_id ${badLen.map(_.getLong(0)).mkString(", ")})" +
        " — a short vector would silently encode garbage subvectors")
    val emb = normalize(newVecs)
    val nUsable = emb.count()
    require(nUsable > 0,
      "append batch has no usable vectors (empty, or all degenerate " +
        "norm) — refusing a zero-row append, which would not commit " +
        "a generation and would tear the index tables' version " +
        "alignment")
    val nDistinct = emb.select(col("vec_id")).distinct().count()
    require(nDistinct == nUsable,
      s"append batch repeats ${nUsable - nDistinct} vec_id(s) — a " +
        "doubled id would surface twice in every served shortlist")
    val clash = f.postings.select(col("vec_id"))
      .join(emb.select(col("vec_id")), "vec_id")
      .limit(3).collect()
    require(clash.isEmpty,
      s"append batch collides with ids already in the index (e.g. " +
        s"vec_id ${clash.map(_.getLong(0)).mkString(", ")}) — " +
        "re-ingesting a vector needs a rebuild, not an append")
    encodePostings(emb, storedCent(f), storedCb(f))
  }

  /** Append NEW vectors to a persisted index as one versioned commit
    * per table — the daily-ingest path a 100 TB corpus needs: a fresh
    * batch is assigned + PQ-encoded against the STORED codebooks and
    * lands as an APPEND commit on the cell-partitioned postings table
    * (old posting files untouched, new files cell-clustered by the
    * table's partition marker, so serve-time cell pruning covers both
    * generations' files). Codebooks are immutable across appends —
    * the standard IVF-PQ maintenance contract: recall on the new
    * batch is bounded by how well the base codebooks cover it, and
    * re-training means [[build]].
    *
    * The three metadata-sized codebook tables get identical-content
    * REPLACE commits so all four version counters stay aligned —
    * the graftlines reader addresses EXACT generations, so a lone
    * postings bump would make `versionAsOf` unusable on the other
    * tables. Their rows are collected first (≤ 1024 each) and
    * rewritten from local data, keeping the self-overwrite read
    * window closed. Commit order puts postings LAST: an interrupted
    * append leaves the LIVE index fully consistent (latest-of-each
    * is the pre-append state everywhere but possibly the codebooks,
    * whose content never changed) and only time travel to the torn
    * version fails loudly.
    *
    * Cost: one scan of the new batch + one id-overlap probe of the
    * postings ids (16-byte rows). The base corpus is never re-read
    * or re-encoded — append(delta) then serve is gated row-for-row
    * equal to a full rebuild over base ∪ delta (AnnIndexSpec). */
  def append(s: SparkSession, indexDir: String, newVecs: DataFrame)
      : Unit = {
    val f = loadFrames(s, indexDir)
    val newPost = appendFrames(f, newVecs)
    import s.implicits._
    val metaLocal = f.meta.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("key", "value")
    val coarseLocal = f.coarse.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
      .toDF("cell", "dim", "value")
    val pqLocal = f.pq.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .toSeq.toDF("m", "cid", "dim", "value")
    def touch(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.format("graftlines").mode("overwrite")
        .save(s"$indexDir/$t")
    touch(metaLocal, "meta")
    touch(coarseLocal, "coarse")
    touch(pqLocal, "pq")
    newPost.write.format("graftlines").mode("append")
      .option("partitionColumn", "cell").save(s"$indexDir/postings")
  }

  /** Retire old index versions — the retention half of the append
    * lifecycle (every [[build]]/[[append]] adds a generation to all
    * four tables; nothing else ever removes one). `keepLast` applies
    * per table, and because the tables' version counters advance in
    * LOCKSTEP, one number retires one uniform prefix of index
    * versions. Returns the dropped generation numbers; a mismatch
    * between tables means the alignment invariant is already broken
    * (e.g. a torn append) and fails loudly rather than desyncing
    * history further. Time travel to a retired version fails loudly
    * at read, exactly like any expired graftlines generation. */
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
    Frames(rd("meta"), rd("coarse"), rd("pq"), rd("postings"))
  }

  /** query-count threshold above which [[serveFrom]] switches the
    * refine stage from the collect/point-lookup form to the join form
    * — below it, materializing the shortlist to the driver buys an
    * `In(vec_id, …)` pushdown on the finalist fetch; above it, that
    * materialization IS the driver bottleneck and the refine must be
    * a distributed join (VERDICT r15 #3). */
  val BatchQueryThreshold = 64

  /** Serve top-k from index frames — the full production IVFPQ+refine
    * read path: probe `nprobe` cells, ADC-rank the probed codes, exact
    * cosine rerank of the ADC shortlist (refineFactor * k candidates
    * per query, the "fetch full vectors for the finalists" step every
    * PQ serving tier runs). Queries are the similarity family's probe
    * set (vec_id < 10); every corpus-table scan here carries an id
    * pushdown — the corpus is never RESCANNED, assigned, or encoded
    * at serve time (AnnIndexSpec pins this on the plan). Recall is
    * bounded by the IVF probe (raise nprobe to trade scan fraction
    * for recall — the standard dial).
    *
    * The refine stage has two shapes, picked by query count: at or
    * under [[BatchQueryThreshold]] queries the shortlist (queries x
    * refineFactor*k id pairs) is driver metadata and the finalist
    * fetch is a pushed point lookup ([[serveCollectFrom]]); above it
    * the shortlist stays distributed and the fetch is a shuffle-hash
    * join ([[serveBatchFrom]]) — a million-query batch never
    * materializes anything on the driver. Both produce identical
    * rows (AnnIndexSpec pins hash-equality). */
  def serveFrom(s: SparkSession, d: String, f: Frames, k: Int = 5,
      nprobe: Int = 12, refineFactor: Int = 8): DataFrame = {
    // the dispatch probe is a count over the pushed query scan —
    // bounded work, and the price of never letting a fat probe set
    // near the driver-materializing form
    val nq = queryFrame(s, d).count()
    if (nq > BatchQueryThreshold) serveBatchFrom(s, d, f, k, nprobe,
      refineFactor)
    else serveCollectFrom(s, d, f, k, nprobe, refineFactor)
  }

  /** Point-lookup refine: collect the bounded shortlist, fetch the
    * finalists BY ID with a pushed `In(vec_id, …)` filter. The right
    * shape for interactive probe sets — the collect is queries x
    * refineFactor*k rows of two longs, nothing more. */
  def serveCollectFrom(s: SparkSession, d: String, f: Frames, k: Int = 5,
      nprobe: Int = 12, refineFactor: Int = 8): DataFrame = {
    val q = queryFrame(s, d)
    val shortRows = adcShortlist(s, d, f, k, nprobe, refineFactor)
      .collect() // bounded: queries x refineFactor*k rows of two longs
    import s.implicits._
    val shortDf = shortRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("qid", "vec_id")
    val ids = shortRows.map(_.getLong(1)).distinct.sorted
    // exact refine: fetch ONLY the shortlisted vectors, by id — the
    // In(vec_id, …) filter pushes to the scan (a point lookup, not a
    // corpus scan), then true cosine ranks the finalists
    val vecs = graft.Tables.embeddings(s, d)
      .filter(col("vec_id").isin(ids.map(java.lang.Long.valueOf): _*))
      .withColumn("nrm", expr(l2))
      .filter(col("nrm") > 0d && col("nrm") < Double.PositiveInfinity)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    rankRefined(broadcast(shortDf).join(vecs, "vec_id")
      .join(broadcast(q), "qid"), k)
  }

  /** Join-form refine (the batch-scale shape): the ADC shortlist stays
    * a distributed frame and the finalist fetch is `shortlist ⋈
    * embeddings ON vec_id` — shuffle-hash, build side the shortlist
    * (refineFactor*k rows per query vs the full corpus), zero driver
    * materialization anywhere in the plan. The corpus side is a real
    * scan here by design: at a million queries the shortlist touches
    * most of the corpus anyway, and `In` pushdown with a million ids
    * is itself a pathology. */
  def serveBatchFrom(s: SparkSession, d: String, f: Frames, k: Int = 5,
      nprobe: Int = 12, refineFactor: Int = 8): DataFrame = {
    val q = queryFrame(s, d)
    val short = adcShortlist(s, d, f, k, nprobe, refineFactor)
    val vecs = graft.Tables.embeddings(s, d)
      .withColumn("nrm", expr(l2))
      .filter(col("nrm") > 0d && col("nrm") < Double.PositiveInfinity)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    // queries join on qid: shuffle-hash too — a batch probe set is
    // too big to broadcast, and both sides are already qid-keyed
    rankRefined(short.hint("shuffle_hash").join(vecs, "vec_id")
      .join(q.hint("shuffle_hash"), "qid"), k)
  }

  /** shared refine tail: true cosine over the fetched finalists,
    * rank-k per query, deterministic tiebreak on vec_id */
  private def rankRefined(joined: DataFrame, k: Int): DataFrame = {
    val wk = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    joined
      .withColumn("cos",
        expr("fdot(q_emb, embedding)") / (col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** the normalized query probe set (vec_id < 10), with the raw float
    * vectors and norms the refine stage needs */
  private def queryFrame(s: SparkSession, d: String): DataFrame = {
    graft.Tables.embeddings(s, d)
      .filter(col("vec_id") < 10)
      .withColumn("nrm", expr(l2))
      .filter(col("nrm") > 0d && col("nrm") < Double.PositiveInfinity)
      .withColumn("q_nemb",
        expr("transform(embedding, x -> cast(x / nrm as double))"))
      .select(col("vec_id").as("qid"), col("q_nemb"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
  }

  /** The ADC shortlist as a PLAN (pre-collect): probe cells, prune the
    * postings scan to them, ADC-rank, keep refineFactor*k per query.
    * Public so AnnIndexSpec can pin the index-read shape — every
    * index table scan and the cell pruning live HERE; the frame
    * serveFrom returns holds only the refine stage. */
  def adcShortlist(s: SparkSession, d: String, f: Frames, k: Int = 5,
      nprobe: Int = 12, refineFactor: Int = 8): DataFrame = {
    val ncells = checkCodebooks(f)
    val q = queryFrame(s, d)
    // coarse centroids: long format -> (cell, c_emb) — ncells rows
    val cent = storedCent(f)
    // probes: the nprobe nearest cells per query (metadata-sized)
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("qd2").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("qd2", d2("q_nemb", "c_emb"))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= math.min(nprobe, ncells))
      .select(col("qid"), col("cell"), col("qd2"))
    // per-query ADC table: qdt[m][cid] = |q_m - c_m|^2, built from the
    // STORED codebooks (same nested array idiom as q_sim_ann_pq)
    val cb = storedCb(f)
    val qdt = q.select(col("qid"),
        explode(expr(s"""transform(sequence(0, ${NSub - 1}),
          | m -> struct(m AS m, slice(q_nemb, m * $SubDim + 1, $SubDim)
          |   AS qsub))""".stripMargin)).as("e"))
      .select(col("qid"), col("e.m").as("m"), col("e.qsub").as("qsub"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("qd2", d2("qsub", "c_sub"))
      .groupBy(col("qid"), col("m"))
      .agg(expr("transform(array_sort(collect_list(struct(cid, qd2)))," +
        " x -> x.qd2)").as("row16"))
      .groupBy(col("qid"))
      .agg(expr("transform(array_sort(collect_list(struct(m, row16)))," +
        " x -> x.row16)").as("qdt"))
    // the distinct probed cells are metadata (<= ncells values): a
    // LITERAL IN on the partition column statically prunes the
    // postings scan to the probed cells' files — the collect is the
    // same bounded metadata class as Hnsw's 10 probe vectors
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val cand = f.postings
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
      .join(broadcast(probes.select(col("qid"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
    // ADC: approx dist = fixed-order sum of 16 nibble-indexed lookups;
    // keep the top refineFactor*k per query as the refine shortlist
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("ad").asc, col("vec_id").asc)
    cand.join(broadcast(qdt), Seq("qid"))
      .withColumn("ad", expr(s"""aggregate(sequence(0, ${NSub - 1}),
        | cast(0.0 as double), (acc, m) ->
        | acc + qdt[m][cast(shiftright(code, m * 4) & 15 as int)])"""
        .stripMargin))
      .withColumn("arank", row_number().over(wc))
      .filter(col("arank") <= refineFactor * k)
      .select(col("qid"), col("vec_id"))
  }

  /** Serve from the PERSISTED index — load + score, zero construction. */
  def serve(s: SparkSession, d: String, indexDir: String, k: Int = 5,
      nprobe: Int = 12, refineFactor: Int = 8,
      versionAsOf: Option[Int] = None): DataFrame =
    serveFrom(s, d, loadFrames(s, indexDir, versionAsOf), k, nprobe,
      refineFactor)
}
