package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-training-data pipeline operators (SURVEY §2B q_dedup_*, q_sim_*,
  * q_knn_*, q_multimodal_join, q_text_stats) — the north-star additions
  * beyond the reference's surface.
  *
  * Scale design:
  *  - exact dedup: hash + per-key window — shuffles on the hash, the
  *    canonical 100 TB dedup plan.
  *  - near-dup: candidate generation by shared shingle (equi-join on
  *    (lang, shingle)), never an n² document cross join; the MinHash/LSH
  *    variant (MinHashLsh.scala) replaces the exact-shingle join once
  *    per-key shingle lists stop fitting (100 TB path).
  *  - cosine top-k: the 10-query probe side is broadcast; the corpus
  *    side streams — no shuffle of the big side. Dot products are
  *    higher-order-function folds in codegen, not UDFs.
  */
/** deterministic random-hyperplane set: 16 tables x 4 planes x 64 dims.
  * r4: tables 8 -> 16 lifted recall@5 0.76 -> ~0.9 (AnnLshSpec floor
  * 0.85); affordable because the codegen'd [[graft.functions.LshSignatures]]
  * replaced the nested-HOF signature computation, so per-table cost is
  * a tight fused loop, not lambda dispatch. */
object AnnLsh {
  val tables = 16
  val bits = 4
  val hyperplanes: Array[Array[Double]] = {
    // the ONE shared splitmix64 (graft.functions.MinHash.splitmix) —
    // a hand-copied clone here could silently diverge from a future
    // tweak to the canonical generator
    val next = graft.functions.MinHash.splitmix(777L)
    Array.fill(tables * bits)(
      Array.fill(64)((next.next() % 2001L) / 1000.0))
  }

  /** (vec_id, tbl, sig) — one row per vector per table */
  def signatures(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"), posexplode(expr("lsh_sigs(embedding)")))
      .toDF("vec_id", "tbl", "sig")
  }

  /** (qid, vec_id) candidate pairs: share a bucket with the query in at
    * least one table (also probed directly by AnnLshSpec's pruning
    * assertion) */
  def candidates(s: SparkSession, d: String): DataFrame = {
    val sigs = signatures(Tables.embeddings(s, d))
    val qsig = sigs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("tbl").as("q_tbl"),
        col("sig").as("q_sig"))
    broadcast(qsig).join(sigs,
        col("q_tbl") === col("tbl") && col("q_sig") === col("sig")
          && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id")).distinct()
  }
}

object Llm extends QueryGroup {

  /** L2 norm via the fused native dot product (same value as the HOF
    * fold: sequential double accumulation) */
  private val l2Expr = "sqrt(fdot(embedding, embedding))"

  /** Near-duplicate pairs (a, b, jac) with 3-gram Jaccard >= 0.6 —
    * shared by q_dedup_near_jaccard (reports the pairs) and
    * q_dedup_cluster (closes them transitively). The jac column is the
    * raw double ratio; callers round for display AFTER the threshold
    * filter so both consumers cut on the identical value. */
  private[queries] def nearDupPairs(s: SparkSession, d: String): DataFrame = {
    val jac = col("i").cast(DoubleType) /
      (col("sza") + col("szb") - col("i"))
    shingleIntersections(s, d)
      .filter(jac >= 0.6)
      .select(col("a"), col("b"), jac.as("jac"))
  }

  /** Shared tail of the two cluster queries: component labels ->
    * (cluster_rep, n_docs, n_removed), representative = min doc id. */
  private def clusterSummary(comp: DataFrame): DataFrame =
    comp.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("comp").as("cluster_rep"), col("n_docs"),
        (col("n_docs") - 1).as("n_removed"))
      .orderBy(col("cluster_rep"))

  /** One oracle for BOTH cluster queries (min-label and star
    * contraction): the recursive reachability CTE over the same
    * shingle-Jaccard edge set — the algorithm choice must not be
    * observable in the result. */
  private val clusterOracle =
    """WITH RECURSIVE
      |t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
      |      FROM documents),
      |sh AS (SELECT DISTINCT doc_id, lang,
      |         unnest(list_transform(range(1, len(w)-1),
      |           i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
      |       FROM t WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      |          FROM sh a JOIN sh b
      |            ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a
      |          JOIN sz sb ON sb.doc_id = b
      |          WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.6),
      |edges AS (SELECT a AS u, b AS v FROM pairs
      |          UNION ALL SELECT b, a FROM pairs),
      |reach AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
      |          UNION
      |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (SELECT u, MIN(v) AS comp FROM reach GROUP BY u)
      |SELECT comp AS cluster_rep, COUNT(*)::BIGINT AS n_docs,
      |  (COUNT(*) - 1)::BIGINT AS n_removed
      |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared-shingle pair intersections (a, b, i, sza, szb) for every
    * same-lang doc pair with at least one common 3-gram — the common
    * inverted-index core under q_dedup_near_jaccard / q_dedup_cluster
    * (Jaccard cut) and q_dedup_containment (containment cut). */
  private[queries] def shingleIntersections(
      s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        """array_distinct(transform(sequence(0, size(w)-3),
          | i -> concat(w[i], '_', w[i+1], '_', w[i+2])))""".stripMargin))
        .as("s"))
    // One per-doc aggregate carries BOTH the hashed shingle list and
    // the set size — the r10 q_dedup_pipeline single-exchange shape,
    // back-ported (r11): the old form aggregated sz from a SECOND pass
    // over the scan -> split -> explode subtree and attached sza/szb
    // through two extra shuffle joins; here sz rides the exploded join
    // rows (8 bytes/row) and both self-join sides reuse the one
    // doc-aggregate exchange. Hashes, not strings, on the wire —
    // smaller shuffle rows and cheaper equality at scale (collisions
    // only shrink the intersection estimate by ~n²/2^64 — negligible).
    val docAgg = sh
      .select(col("doc_id"), col("lang"), xxhash64(col("s")).as("h"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(collect_list(col("h")).as("hs"), count(lit(1)).as("sz"))
    val ex = docAgg.select(col("doc_id"), col("lang"), col("sz"),
      explode(col("hs")).as("s"))
    val a = ex.select(col("doc_id").as("a"), col("lang"), col("s"),
      col("sz").as("sza"))
    val b = ex.select(col("doc_id").as("b"), col("lang").as("lang_b"),
      col("s").as("s_b"), col("sz").as("szb"))
    // SHUFFLE_HASH (r3): same Scratch-measured result as the simhash
    // band join — shingle keys are dense, so sort-merge pays to sort
    // both exploded sides before enumerating shared-shingle pairs;
    // hashing one shuffle-partition-sized side is ~2x cheaper and
    // equally scale-safe (no broadcast, build side bounded by the
    // per-partition shingle slice).
    a.join(b.hint("shuffle_hash"),
        col("lang") === col("lang_b") && col("s") === col("s_b")
          && col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("i"), first(col("sza")).as("sza"),
        first(col("szb")).as("szb"))
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_dedup_exact",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
            .as("h"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("h")).as("n_surv"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_dup"))
        .orderBy(col("lang")),
      Some("""SELECT lang, COUNT(DISTINCT h)::BIGINT AS n_surv,
        | (COUNT(*) - COUNT(DISTINCT h))::BIGINT AS n_dup
        |FROM (SELECT lang,
        |        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      "q_dedup_near_jaccard",
      (s, d) => nearDupPairs(s, d)
        .select(col("a"), col("b"), round(col("jac"), 4).as("jac"))
        .orderBy(col("a"), col("b")),
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |         unnest(list_transform(range(1, len(w)-1),
        |           i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
        |       FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
        |          FROM sh a JOIN sh b
        |            ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a, b,
        |  ROUND(i::DOUBLE / (sa.sz + sb.sz - i), 4) AS jac
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a
        |JOIN sz sb ON sb.doc_id = b
        |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.6
        |ORDER BY a, b""".stripMargin)),

    QueryDef(
      // Containment dedup (added r4): the asymmetric twin of Jaccard —
      // containment(A in B) = |A∩B| / |A| catches a short doc quoted or
      // embedded inside a longer one, which Jaccard misses because the
      // union in its denominator grows with the longer doc. Pairs are
      // flagged on max containment = i / least(|A|, |B|) >= 0.7 (one
      // BIGINT ratio). Same inverted-index core as q_dedup_near_jaccard
      // (shared shingleIntersections — one shuffle on the shingle hash,
      // never doc x doc); only the final cut differs.
      "q_dedup_containment",
      (s, d) => {
        val cont = col("i").cast(DoubleType) / least(col("sza"), col("szb"))
        shingleIntersections(s, d)
          .filter(cont >= 0.7)
          .select(col("a"), col("b"), col("i"),
            round(cont, 4).as("containment"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |         unnest(list_transform(range(1, len(w)-1),
        |           i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
        |       FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*)::BIGINT AS i
        |          FROM sh a JOIN sh b
        |            ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a, b, i,
        |  ROUND(i::DOUBLE / LEAST(sa.sz, sb.sz), 4) AS containment
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a
        |JOIN sz sb ON sb.doc_id = b
        |WHERE i::DOUBLE / LEAST(sa.sz, sb.sz) >= 0.7
        |ORDER BY a, b""".stripMargin)),

    QueryDef(
      // The dedup ENDGAME: pairs -> transitive clusters -> one canonical
      // doc (the min id) per cluster. Spark side iterates min-label
      // propagation (operators/ConnectedComponents.scala — per-sweep
      // shuffle join + mergeable min agg, lineage checkpointed); the
      // oracle closes the same edge set with a recursive reachability
      // CTE. Cluster count and sizes are iteration-order-free, so the
      // hash compare is exact.
      "q_dedup_cluster",
      (s, d) => clusterSummary(graft.operators.ConnectedComponents.label(
        nearDupPairs(s, d).select(col("a"), col("b")))),
      Some(clusterOracle)),

    QueryDef(
      // Same endgame, diameter-proof plan (added r5): the alternating
      // large-star / small-star contraction (operators/
      // ConnectedComponents.labelStar) closes the identical edge set in
      // ~log n rounds instead of one sweep per hop of diameter — the
      // upgrade the min-label scaladoc promised for chain-shaped
      // graphs. Identical oracle as q_dedup_cluster: which algorithm
      // walked the graph must be invisible in the answer.
      "q_dedup_cluster_star",
      (s, d) => clusterSummary(graft.operators.ConnectedComponents
        .labelStar(nearDupPairs(s, d).select(col("a"), col("b")))),
      Some(clusterOracle)),

    QueryDef(
      "q_dedup_minhash_lsh",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), col("lang"), explode(expr(
            """array_distinct(transform(sequence(0, size(w)-3),
              | i -> concat(w[i], '_', w[i+1], '_', w[i+2])))""".stripMargin))
            .as("s"))
        // one 1 KiB sketch per doc; shuffle carries sketches, not shingles
        val sketches = sh
          .select(col("doc_id"), col("lang"), xxhash64(col("s")).as("sh_hash"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(expr("minhash128(sh_hash)").as("mh"))
        // 32 bands x 4 rows; candidates = same (lang, band, band-signature).
        // One shuffle: group each (lang, band, sig) bucket and expand the
        // pairs in-bucket (sorted ids keep a < b), instead of the round-1
        // bands-self-join + distinct() that shuffled the band table twice
        // and deduped the full join output (VERDICT r1 "Next round" #2).
        val bands = sketches.select(col("doc_id"), col("lang"),
          explode(expr(
            """transform(sequence(0, 31), b -> struct(b AS band,
              | xxhash64(mh[4*b], mh[4*b+1], mh[4*b+2], mh[4*b+3]) AS sig))"""
              .stripMargin)).as("bs"))
          .select(col("doc_id"), col("lang"),
            col("bs.band").as("band"), col("bs.sig").as("sig"))
        // Hot-bucket guard (ADVICE r2): a skewed band signature (many
        // near-identical / empty docs) would make a single-row
        // flatten(transform(...)) pair expansion materialize O(k^2)
        // structs in ONE row — an OOM hazard at 100 TB. Instead the
        // expansion streams through two chained generators: posexplode
        // emits one row per (bucket, i) carrying the O(k) ids array,
        // and a second explode over slice(ids, i+2, ...) emits the
        // (ids[i], ids[j>i]) pairs directly. Per-row memory stays O(k)
        // for any bucket size while the emitted pair set is unchanged
        // (ids sorted => a < b by construction), with no extra pass
        // over the bucket aggregation and no self-join.
        val cand = bands
          .groupBy(col("lang"), col("band"), col("sig"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
          .select(col("a"), explode(
            expr("slice(ids, i + 2, size(ids) - i - 1)")).as("b"))
          .distinct()
        val mhA = sketches.select(col("doc_id").as("a"), col("mh").as("mha"))
        val mhB = sketches.select(col("doc_id").as("b"), col("mh").as("mhb"))
        cand.join(mhA, "a").join(mhB, "b")
          .select(col("a"), col("b"), round(expr(
            "size(filter(zip_with(mha, mhb, (x, y) -> x = y), p -> p)) / 128.0"),
            4).as("est_jac"))
          .orderBy(col("a"), col("b"))
      },
      None),

    QueryDef(
      // THE COMPLETE DEDUP PIPELINE in one query (added r8 — the
      // production composition the family's pieces exist for, run end
      // to end: shingle → MinHash sketch → LSH banding → candidate
      // pairs → EXACT verification on candidates only → connected
      // components → keep-one-per-cluster → corpus accounting). The
      // punchline is the ORACLE: because LSH banding at 32×4 over
      // 128 perms has recall 1.0 at the 0.6 threshold on this data
      // (MinHashSpec's standing gate) and every candidate is then
      // verified EXACTLY, the pipeline's output equals the brute-force
      // exact pipeline — so the approximate path is hash-checked
      // against the exact answer, which is precisely the guarantee a
      // production dedup run wants stated. Scale shape per stage:
      // sketches partial+final (shuffle carries 1 KiB sketches),
      // candidates from bucket grouping (never doc×doc), verification
      // work ∝ candidates (shingle-set joins keyed on doc id),
      // clustering = log-round star contraction, final accounting two
      // hash aggs. A missed-recall regression would surface as a
      // driver hash mismatch — the oracle doubles as the recall gate.
      "q_dedup_pipeline",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), col("lang"), explode(expr(
            """array_distinct(transform(sequence(0, size(w)-3),
              | i -> concat(w[i], '_', w[i+1], '_', w[i+2])))""".stripMargin))
            .as("s"))
        // r17 (VERDICT r16 #1; guide §8 "decide with small rows, move
        // big rows once"): exact verification has two plans with
        // OPPOSITE cost profiles, and which one wins is a function of
        // input size — so the choice is size-derived at plan time,
        // exactly like a broadcast threshold. Both branches compute
        // bit-identical pairs (DedupVerifyEquivalenceSpec pins set
        // equality across the branch switch; the r17 stage ladder
        // measured symdiff = 0 at sf0.1 and the oracle gates the
        // default branch end to end).
        //  - CARRY-SETS (small inputs — both graded SFs): one per-doc
        //    aggregate carries the minhash sketch AND the exact shingle
        //    set through its single exchange (the r10 shape: sketch and
        //    verify consumers reuse ONE exchange, cold 8.7 → 3.2 s at
        //    sf0.1 then), and verification intersects candidate pairs'
        //    sets. Cheaper while the sets are KBs: the alternative's
        //    extra stages are pure dispatch (r17 ladder: warm verify
        //    1.55 s carry-sets vs 2.1-2.25 s inverted at sf0.1).
        //  - INVERTED-INDEX (large inputs): the aggregate ships ONLY
        //    the 1 KiB sketch + set size — the exchange payload stops
        //    growing with document size — and the exact intersection
        //    counts come from re-expanding the shingles of CANDIDATE
        //    docs only (the planner sizes the candidate-doc join) and
        //    counting per-pair matches on the
        //    (doc, shingle) inverted index. One extra corpus-side map
        //    pass buys an exchange whose payload is sketch-sized; at
        //    100 TB the carry-sets exchange IS the corpus, which is
        //    the scale killer this branch removes.
        val invertedVerify = {
          val (bytes, thresh) = Confs.sizeGate(s, s"$d/documents.parquet",
            "spark.graft.dedup.invertedVerifyMinBytes", 1L << 30)
          bytes >= thresh
        }
        val docAgg =
          if (invertedVerify) sh
            .select(col("doc_id"), col("lang"),
              xxhash64(col("s")).as("sh_hash"))
            .groupBy(col("doc_id"), col("lang"))
            .agg(expr("minhash128(sh_hash)").as("mh"),
              count(lit(1)).as("sz"))
          else sh
            .select(col("doc_id"), col("lang"), col("s"),
              xxhash64(col("s")).as("sh_hash"))
            .groupBy(col("doc_id"), col("lang"))
            .agg(expr("minhash128(sh_hash)").as("mh"),
              collect_set(col("s")).as("ss"), count(lit(1)).as("sz"))
        val bands = docAgg.select(col("doc_id"), col("lang"),
          explode(expr(
            """transform(sequence(0, 31), b -> struct(b AS band,
              | xxhash64(mh[4*b], mh[4*b+1], mh[4*b+2], mh[4*b+3]) AS sig))"""
              .stripMargin)).as("bs"))
          .select(col("doc_id"), col("lang"),
            col("bs.band").as("band"), col("bs.sig").as("sig"))
        val cand = bands
          .groupBy(col("lang"), col("band"), col("sig"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(posexplode(col("ids")).as(Seq("i", "a")), col("ids"))
          .select(col("a"), explode(
            expr("slice(ids, i + 2, size(ids) - i - 1)")).as("b"))
          .distinct()
        // exact verification, candidate-bounded either way: work is
        // ∝ candidates, never all pairs
        val verified = if (invertedVerify) {
          val candCk = cand.localCheckpoint(eager = false)
          val candDocs = candCk.select(col("a").as("doc_id"))
            .union(candCk.select(col("b").as("doc_id"))).distinct()
          val shCand = sh.join(candDocs, Seq("doc_id"))
            .localCheckpoint(eager = false)
          // per-doc shingle rows are DISTINCT (array_distinct upstream),
          // so the (a,s)⋈(b,s) match emits exactly one row per common
          // shingle — count = |A ∩ B| exactly, the same integer
          // size(array_intersect(ssa, ssb)) produces in the other branch
          val inter = candCk
            .join(shCand.select(col("doc_id").as("a"), col("s")), Seq("a"))
            .join(shCand.select(col("doc_id").as("b"), col("s")),
              Seq("b", "s"))
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("i"))
          val szs = docAgg.select(col("doc_id"), col("sz"))
          inter
            .join(szs.select(col("doc_id").as("a"), col("sz").as("sza")),
              Seq("a"))
            .join(szs.select(col("doc_id").as("b"), col("sz").as("szb")),
              Seq("b"))
            .filter(col("i").cast(DoubleType)
              / (col("sza") + col("szb") - col("i")) >= 0.6)
            .select(col("a"), col("b"))
        } else {
          val sets = docAgg.select(col("doc_id"), col("ss"), col("sz"))
          cand
            .join(sets.select(col("doc_id").as("a"), col("ss").as("ssa"),
              col("sz").as("sza")), "a")
            .join(sets.select(col("doc_id").as("b"), col("ss").as("ssb"),
              col("sz").as("szb")), "b")
            .withColumn("i", size(array_intersect(col("ssa"), col("ssb"))))
            .filter(col("i").cast(DoubleType)
              / (col("sza") + col("szb") - col("i")) >= 0.6)
            .select(col("a"), col("b"))
        }
        val comp = graft.operators.ConnectedComponents.labelStar(verified)
        val removed = comp.filter(col("node") =!= col("comp"))
          .select(col("node").as("doc_id"), lit(1L).as("rm"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .join(removed, Seq("doc_id"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("rm"), lit(0L))).as("n_removed"),
            (count(lit(1)) - sum(coalesce(col("rm"), lit(0L))))
              .as("n_kept"),
            sum(when(col("rm").isNull, col("n_chars")).otherwise(0L))
              .as("chars_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH RECURSIVE
        |t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |      FROM documents),
        |sh AS (SELECT DISTINCT doc_id, lang,
        |         unnest(list_transform(range(1, len(w)-1),
        |           i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
        |       FROM t WHERE len(w) >= 3),
        |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
        |          FROM sh a JOIN sh b
        |            ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT a, b FROM inter
        |          JOIN sz sa ON sa.doc_id = a
        |          JOIN sz sb ON sb.doc_id = b
        |          WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.6),
        |edges AS (SELECT a AS u, b AS v FROM pairs
        |          UNION ALL SELECT b, a FROM pairs),
        |reach AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u, MIN(v) AS comp FROM reach GROUP BY u),
        |rm AS (SELECT u AS doc_id FROM comp WHERE u <> comp)
        |SELECT d.lang, COUNT(*)::BIGINT AS n_docs,
        |  COUNT(rm.doc_id)::BIGINT AS n_removed,
        |  (COUNT(*) - COUNT(rm.doc_id))::BIGINT AS n_kept,
        |  SUM(CASE WHEN rm.doc_id IS NULL THEN d.n_chars ELSE 0 END)::BIGINT
        |    AS chars_kept
        |FROM documents d LEFT JOIN rm ON d.doc_id = rm.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    QueryDef(
      "q_sim_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .withColumn("nrm", expr(l2Expr))
        val q = emb.select(col("vec_id").as("qid"),
          col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
          .filter(col("qid") < 10)
        val dot = expr("fdot(q_embedding, embedding)")
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        broadcast(q).join(emb, col("vec_id") =!= col("qid"))
          .withColumn("cos", dot / (col("q_nrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id"), col("rank"),
            round(col("cos"), 4).as("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS q_emb FROM e WHERE vec_id < 10),
        |c AS (SELECT q.qid, e.vec_id,
        |        list_cosine_similarity(q.q_emb, e.emb) AS cos
        |      FROM q JOIN e ON e.vec_id != q.qid)
        |SELECT qid, vec_id, rank, ROUND(cos, 4) AS cos
        |FROM (SELECT qid, vec_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY cos DESC, vec_id ASC) AS rank
        |      FROM c)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    QueryDef(
      // Int8-style symmetric quantization (added r4) — the memory/IO
      // lever for vector search at 100 TB: each 64-dim float vector
      // becomes 64 small ints (scale = 127/max|x|, round-half-up as
      // floor(x*scale + 0.5) — floor is engine-exact where round()
      // half-way conventions are not), so a scoring pass reads ~8x
      // fewer bytes and the dot product is exact BIGINT arithmetic.
      // The score divides IEEE doubles derived from those ints, so the
      // ranking is bit-identical on both engines: unlike the
      // recall-gated ANN paths this is oracle-checked — quantization
      // here is a compression choice with its own exact contract, and
      // QuantizedSimSpec separately gates recall@5 against the
      // float-exact top-k.
      "q_sim_quantized",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          // an all-zero embedding has no direction: scale below would be
          // 127/0 and the two engines disagree on the fallout (Spark
          // NaN-casts to 0, DuckDB errors) — exclude zero-norm vectors
          // up front, mirrored in the oracle (ADVICE r4)
          .filter(expr(
            "cast(array_max(transform(embedding, x -> abs(x))) as double) > 0D"))
          .withColumn("scale", expr(
            "127.0D / cast(array_max(transform(embedding, x -> abs(x))) as double)"))
          .withColumn("qv", expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * scale + 0.5D) as bigint))"))
          .withColumn("n2", expr("aggregate(qv, 0L, (acc, v) -> acc + v * v)"))
          .select(col("vec_id"), col("qv"), col("n2"))
        val q = emb.select(col("vec_id").as("qid"), col("qv").as("q_qv"),
          col("n2").as("q_n2")).filter(col("qid") < 10)
        val idot = expr(
          "aggregate(zip_with(q_qv, qv, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("qcos").desc, col("vec_id").asc)
        broadcast(q).join(emb, col("vec_id") =!= col("qid"))
          .withColumn("idot", idot)
          .withColumn("qcos", col("idot").cast(DoubleType)
            / (sqrt(col("q_n2").cast(DoubleType))
              * sqrt(col("n2").cast(DoubleType))))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id"), col("rank"), col("idot"),
            round(col("qcos"), 4).as("qcos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
        |      * (127.0 / CAST(list_max(list_transform(embedding,
        |           y -> abs(y))) AS DOUBLE)) + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings
        |  WHERE CAST(list_max(list_transform(embedding, y -> abs(y)))
        |          AS DOUBLE) > 0),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT)
        |          AS n2
        |      FROM e),
        |q AS (SELECT vec_id AS qid, qv AS q_qv, n2 AS q_n2
        |      FROM n WHERE vec_id < 10),
        |c AS (SELECT q.qid, n.vec_id,
        |        CAST(list_sum(list_transform(range(1, len(q.q_qv) + 1),
        |          i -> q.q_qv[i] * n.qv[i])) AS BIGINT) AS idot,
        |        q.q_n2 AS q_n2, n.n2 AS n2
        |      FROM q JOIN n ON n.vec_id != q.qid),
        |sc AS (SELECT qid, vec_id, idot,
        |         CAST(idot AS DOUBLE)
        |           / (sqrt(CAST(q_n2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
        |           AS qcos
        |       FROM c)
        |SELECT qid, vec_id, rank, idot, ROUND(qcos, 4) AS qcos
        |FROM (SELECT qid, vec_id, idot, qcos,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY qcos DESC, vec_id ASC) AS rank
        |      FROM sc)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    QueryDef(
      // ANN: 16 random-hyperplane LSH tables x 4 bits, signatures from
      // the fused codegen'd LshSignatures expression. Each vector lands
      // in 16 buckets; candidates share a bucket with the query in at
      // least one table. No-oracle (approximate); AnnLshSpec asserts
      // recall vs the exact top-k and that candidates < corpus.
      "q_sim_ann_lsh",
      (s, d) => {
        // zero-norm guard (same class as IVF/PQ): a zero vector hashes
        // to a valid bucket (every plane dot is 0, sign bit set) and
        // its NaN cosine would then rank #1 under desc in any bucket
        // it shares — invisible to the recall gate, which only checks
        // overlap with the exact top-5
        val emb = Tables.embeddings(s, d)
          .withColumn("nrm", expr(l2Expr)).filter(col("nrm") > 0d)
        val cand = AnnLsh.candidates(s, d)
        val q = emb.select(col("vec_id").as("qid"),
          col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
          .filter(col("qid") < 10)
        val dot = expr("fdot(q_embedding, embedding)")
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        cand.join(broadcast(q), "qid").join(emb, "vec_id")
          .withColumn("cos", dot / (col("q_nrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id"), col("rank"),
            round(col("cos"), 4).as("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      None),

    QueryDef(
      // IVF ANN: coarse quantizer = 16 data-derived centroids (vec_id
      // < 16 stands in for k-means output); every vector is assigned to
      // its nearest centroid cell, queries probe their nprobe=6 nearest
      // cells, exact cosine ranks only the probed candidates. At 100 TB
      // the cell assignment is a partition key: each probe touches
      // nprobe/ncells of the corpus. No-oracle (approximate);
      // AnnLshSpec asserts recall + pruning.
      "q_sim_ann_ivf",
      (s, d) => {
        // zero-norm guard, same input class PQ excludes: a zero-norm
        // corpus vector NaNs the final exact cosine re-rank, and NaN
        // sorts FIRST under desc — it would rank #1 for every query
        // probing its cell, invisible to the recall gate. Norm is
        // computed once and the filter reuses the column.
        val emb = Tables.embeddings(s, d)
          .withColumn("nrm", expr(l2Expr)).filter(col("nrm") > 0d)
        val cent = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cell"), col("embedding").as("c_emb"),
            col("nrm").as("c_nrm"))
        val cos = expr("fdot(embedding, c_emb)") / (col("nrm") * col("c_nrm"))
        def nearestCells(vs: org.apache.spark.sql.DataFrame, n: Int,
            idCol: String, out: String) = {
          val w = Window.partitionBy(col(idCol))
            .orderBy(col("ccos").desc, col("cell").asc)
          vs.crossJoin(broadcast(cent))
            .withColumn("ccos", cos)
            .withColumn("cr", row_number().over(w))
            .filter(col("cr") <= n)
            .select(col(idCol), col("cell").as(out))
        }
        // corpus-side assignment is a map-side-combinable argmax, not a
        // sort window: the window form shuffles + sorts all 16 crossJoin
        // rows per vector (the query's largest intermediate) just to
        // keep rank 1; min_by partial-aggregates them on the scan side
        // (same min_by-struct tie idiom as the PQ encode step). The
        // window stays only for the metadata-sized nprobe=6 probe path.
        val assign = emb.crossJoin(broadcast(cent))
          .withColumn("ccos", cos)
          .groupBy(col("vec_id"))
          .agg(min_by(col("cell"),
            struct(-col("ccos"), col("cell"))).as("cell"))
        val probes = nearestCells(
          emb.filter(col("vec_id") < 10), 6, "vec_id", "p_cell")
          .select(col("vec_id").as("qid"), col("p_cell"))
        val cand = broadcast(probes)
          .join(assign, col("p_cell") === col("cell")
            && col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id")).distinct()
        val q = emb.select(col("vec_id").as("qid"),
          col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
          .filter(col("qid") < 10)
        val dot = expr("fdot(q_embedding, embedding)")
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        cand.join(broadcast(q), "qid").join(emb, "vec_id")
          .withColumn("cos", dot / (col("q_nrm") * col("nrm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id"), col("rank"),
            round(col("cos"), 4).as("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      None),

    QueryDef(
      // PQ ANN (added r8 — completes the ANN family: LSH buckets, IVF
      // cells, int8 scalar quantization, and now product quantization,
      // Jégou et al.): L2-normalize, split 64 dims into 16 subspaces of
      // 4, per-subspace codebook = the subvectors of the 16 lowest
      // vec_ids (data-derived, deterministic — the k-means stand-in
      // the IVF coarse quantizer also uses), encode every vector as 16
      // nibble codes (8 of 256 bytes — the 32x memory compression IS
      // the operator; 4-dim subspaces keep per-subspace quantization
      // error low where 8-dim cells would be too coarse for 16
      // centroids), then score queries by ADC: per query one 16x16
      // distance table, approx dist = fixed-order 16-term table-lookup
      // sum (deterministic — no float reduction order in play). On
      // normalized vectors L2 is monotone in cosine (|a-b|^2 =
      // 2-2cos), so the exact cosine top-k is the recall baseline
      // (AnnPqSpec). Scored set = full corpus BY DESIGN, like the
      // exact anchor: PQ is the memory/bandwidth path; candidate
      // PRUNING is IVF's job, and production composes them as IVFPQ
      // (probe cells with the coarse quantizer, rank probed codes with
      // ADC). Codes and tables ride metadata-sized broadcasts; the
      // corpus-side scan carries 8 bytes per vector, never the floats.
      "q_sim_ann_pq",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          // norm once per ROW: transform's lambda re-evaluates its body
          // per element, so an inlined norm would cost 64 fdot calls
          // (4096 multiply-adds) per vector instead of one — and the
          // zero-norm guard below filters on the same column instead of
          // re-evaluating fdot a second time per row.
          .withColumn("nrm", expr(l2Expr))
          // zero-norm guard (the input class q_sim_quantized /
          // q_sim_refine already exclude): an all-zero embedding would
          // NaN its normalization and, if its vec_id were < 16 / < 10,
          // silently poison a codebook column or a query's whole ADC
          // table — and this query has no oracle to catch it
          .filter(col("nrm") > 0d)
          .withColumn("nemb",
            expr("transform(embedding, x -> cast(x / nrm as double))"))
        // (m, cid, c_sub): 16 subspaces x 16 centroids. Checkpointed
        // lazily (r17, guide §1.2): the codebook frame is broadcast
        // into BOTH the corpus encode join and the query ADC-table
        // join, and each broadcast otherwise re-runs the scan + norm +
        // slice-explode subtree (the before-plan carries the
        // embeddings scan four times — plans/r17/q_sim_ann_pq_before
        // .txt); the 256-row checkpoint computes it once. Values
        // unchanged (AnnPqSpec's recall gate still stands).
        val cb = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cid"),
            explode(expr("""transform(sequence(0, 15),
              | m -> struct(m AS m, slice(nemb, m * 4 + 1, 4) AS c_sub))"""
              .stripMargin)).as("e"))
          .select(col("e.m").as("m"), col("cid"), col("e.c_sub").as("c_sub"))
          .localCheckpoint(eager = false)
        val subs = emb
          .select(col("vec_id"),
            explode(expr("""transform(sequence(0, 15),
              | m -> struct(m AS m, slice(nemb, m * 4 + 1, 4) AS sub))"""
              .stripMargin)).as("e"))
          .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))
        val d2 = expr("""aggregate(zip_with(sub, c_sub,
          | (a, b) -> (a - b) * (a - b)),
          | cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin)
        // encode: argmin centroid per (vector, subspace), ties -> low cid
        val codes = subs.join(broadcast(cb), Seq("m"))
          .withColumn("d2", d2)
          .groupBy(col("vec_id"), col("m"))
          .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("code"))
          .groupBy(col("vec_id"))
          .agg(transform(array_sort(
            collect_list(struct(col("m"), col("code")))),
            x => x("code")).as("codes"))
        // per-query ADC table: qdt[m][cid] = |q_m - c_m|^2
        val qdt = subs.filter(col("vec_id") < 10)
          .join(broadcast(cb), Seq("m"))
          .withColumn("qd2", d2)
          .groupBy(col("vec_id"), col("m"))
          .agg(transform(array_sort(
            collect_list(struct(col("cid"), col("qd2")))),
            x => x("qd2")).as("row16"))
          .groupBy(col("vec_id"))
          .agg(transform(array_sort(
            collect_list(struct(col("m"), col("row16")))),
            x => x("row16")).as("qdt"))
          .select(col("vec_id").as("qid"), col("qdt"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("ad").asc, col("vec_id").asc)
        codes.crossJoin(broadcast(qdt))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("ad", expr("""aggregate(sequence(0, 15),
            | cast(0.0 as double), (acc, m) ->
            | acc + qdt[m][codes[m]])""".stripMargin))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id"), col("rank"),
            round(col("ad"), 4).as("approx_d2"))
          .orderBy(col("qid"), col("rank"))
      },
      None),

    QueryDef(
      "q_knn_majority_label",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .withColumn("nrm", expr(l2Expr))
        val q = emb.select(col("vec_id").as("qid"),
          col("embedding").as("q_embedding"), col("nrm").as("q_nrm"))
          .filter(col("qid") < 10)
        val dot = expr("fdot(q_embedding, embedding)")
        val wTop = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        val neighbors = broadcast(q)
          .join(emb, col("vec_id") =!= col("qid"))
          .withColumn("cos", dot / (col("q_nrm") * col("nrm")))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("label"))
        val wVote = Window.partitionBy(col("qid"))
          .orderBy(col("n_votes").desc, col("label").asc)
        neighbors.groupBy(col("qid"), col("label"))
          .agg(count(lit(1)).as("n_votes"))
          .withColumn("r", row_number().over(wVote))
          .filter(col("r") === 1)
          .select(col("qid"), col("label").as("pred_label"), col("n_votes"))
          .orderBy(col("qid"))
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, emb AS q_emb FROM e WHERE vec_id < 10),
        |nb AS (SELECT qid, label FROM (
        |         SELECT q.qid, e.label,
        |           ROW_NUMBER() OVER (PARTITION BY q.qid
        |             ORDER BY list_cosine_similarity(q.q_emb, e.emb) DESC,
        |                      e.vec_id ASC) AS rank
        |         FROM q JOIN e ON e.vec_id != q.qid)
        |       WHERE rank <= 5),
        |votes AS (SELECT qid, label, COUNT(*)::BIGINT AS n_votes
        |          FROM nb GROUP BY qid, label)
        |SELECT qid, label AS pred_label, n_votes
        |FROM (SELECT qid, label, n_votes,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY n_votes DESC, label ASC) AS r
        |      FROM votes)
        |WHERE r = 1 ORDER BY qid""".stripMargin)),

    QueryDef(
      "q_multimodal_join",
      (s, d) => {
        val emb = Tables.embeddings(s, d).withColumn("l2", expr(l2Expr))
        Tables.documents(s, d)
          .join(emb, col("doc_id") === col("vec_id"))
          .groupBy(col("lang"), col("label"))
          .agg(count(lit(1)).as("n"),
            (sum(col("n_chars")).cast(DoubleType) / count(lit(1)))
              .as("avg_chars"),
            round(sum(col("l2")) / count(lit(1)), 4).as("avg_l2"))
          .orderBy(col("lang"), col("label"))
      },
      Some("""SELECT lang, label, COUNT(*)::BIGINT AS n,
        | CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        | ROUND(SUM(l2) / COUNT(*), 4) AS avg_l2
        |FROM documents
        |JOIN (SELECT vec_id, label,
        |        sqrt(list_aggregate(list_transform(embedding,
        |          x -> x::DOUBLE * x::DOUBLE), 'sum')) AS l2
        |      FROM embeddings) e
        |  ON doc_id = vec_id
        |GROUP BY lang, label ORDER BY lang, label""".stripMargin)),

    QueryDef(
      "q_text_stats",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("lang"), col("source"), col("n_chars"),
            split(col("text"), " ").as("toks"))
        val agg1 = base.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(size(col("toks"))).as("n_tok_total"))
        val agg2 = base
          .select(col("lang"), col("source"), explode(col("toks")).as("tok"))
          .groupBy(col("lang"), col("source"))
          .agg(countDistinct(col("tok")).as("n_tok_distinct"))
        agg1.join(agg2, Seq("lang", "source"))
          .select(col("lang"), col("source"), col("n_docs"),
            (col("sum_chars").cast(DoubleType) / col("n_docs"))
              .as("avg_chars"),
            col("n_tok_distinct"),
            round(col("n_tok_distinct").cast(DoubleType)
              / col("n_tok_total"), 4).as("ttr"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH base AS MATERIALIZED (SELECT lang, source, n_chars,
        |              string_split(text, ' ') AS toks FROM documents),
        |a1 AS (SELECT lang, source, COUNT(*)::BIGINT AS n_docs,
        |         SUM(n_chars) AS sum_chars, SUM(len(toks)) AS n_tok_total
        |       FROM base GROUP BY 1, 2),
        |a2 AS (SELECT lang, source, COUNT(DISTINCT tok)::BIGINT AS n_tok_distinct
        |       FROM (SELECT lang, source, unnest(toks) AS tok FROM base)
        |       GROUP BY 1, 2)
        |SELECT lang, source, n_docs,
        |  CAST(sum_chars AS DOUBLE) / n_docs AS avg_chars,
        |  n_tok_distinct,
        |  ROUND(n_tok_distinct::DOUBLE / n_tok_total, 4) AS ttr
        |FROM a1 JOIN a2 USING (lang, source)
        |ORDER BY lang, source""".stripMargin)),

    QueryDef(
      // Two-stage retrieval: coarse int8 scan → exact re-rank (added
      // r8 — the production serving pattern for vector search: a cheap
      // quantized pass nominates candidates, the expensive float
      // scoring runs ONLY on them; FAISS/ScaNN's refine step). Stage 1
      // scores every vector with BIGINT int8 dot products (4–8× the
      // throughput of floats on a real scan) and keeps the top-20 per
      // probe; stage 2 re-ranks those twenty with the exact float
      // cosine and keeps the top-5. The ORACLE is the plain exact
      // top-5 (q_sim_cosine_topk's formulation): on this corpus the
      // coarse top-20 covers the true top-5 (QuantizedSimSpec's
      // recall gate is the standing witness), so the refined answer
      // hash-matches the exact one at both scales — the dedup-pipeline
      // trick applied to retrieval, and a silent coarse-recall
      // regression becomes a loud driver mismatch. Scale shape:
      // stage-1 work is the full scan at int8 cost with per-probe
      // top-20 TakeOrdered state; stage-2 work is candidates × 1.
      "q_sim_refine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .filter(expr(
            "cast(array_max(transform(embedding, x -> abs(x))) as double) > 0D"))
          .withColumn("scale", expr(
            "127.0D / cast(array_max(transform(embedding, x -> abs(x))) as double)"))
          .withColumn("qv", expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * scale + 0.5D) as bigint))"))
          .withColumn("n2", expr("aggregate(qv, 0L, (acc, v) -> acc + v * v)"))
          .withColumn("nrm", expr(l2Expr))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("qv").as("q_qv"),
            col("n2").as("q_n2"), col("embedding").as("q_embedding"),
            col("nrm").as("q_nrm"))
        val idot = expr(
          "aggregate(zip_with(q_qv, qv, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
        val wCoarse = Window.partitionBy(col("qid"))
          .orderBy(col("qcos").desc, col("vec_id").asc)
        val coarse = broadcast(probes).join(emb, col("vec_id") =!= col("qid"))
          .withColumn("qcos", idot.cast(DoubleType)
            / (sqrt(col("q_n2").cast(DoubleType))
              * sqrt(col("n2").cast(DoubleType))))
          .withColumn("crank", row_number().over(wCoarse))
          .filter(col("crank") <= 20)
        val wExact = Window.partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        coarse
          .withColumn("cos", expr("fdot(q_embedding, embedding)")
            / (col("q_nrm") * col("nrm")))
          .withColumn("rank", row_number().over(wExact))
          .filter(col("rank") <= 5)
          .select(col("qid"), col("vec_id"), col("rank"),
            round(col("cos"), 4).as("cos"))
          .orderBy(col("qid"), col("rank"))
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings
        |  WHERE CAST(list_max(list_transform(embedding, y -> abs(y)))
        |          AS DOUBLE) > 0),
        |q AS (SELECT vec_id AS qid, emb AS qe FROM e
        |      WHERE vec_id < 10),
        |sc AS (SELECT q.qid, e.vec_id,
        |         list_cosine_similarity(q.qe, e.emb) AS cos
        |       FROM q JOIN e ON e.vec_id != q.qid),
        |r AS (SELECT qid, vec_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY qid
        |          ORDER BY cos DESC, vec_id) AS rank
        |      FROM sc)
        |SELECT qid, vec_id, rank, ROUND(cos, 4) AS cos
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    QueryDef(
      // K-means over embeddings, 2 Lloyd iterations in EXACT integer
      // arithmetic (added r8 — the clustering primitive of embedding
      // curation: SemDeDup ASSIGNS to fixed centroids, k-means LEARNS
      // them; also the offline half of IVF index building). Floating
      // k-means is hash-uncheckable twice over (assignment argmin sits
      // on float ulps; centroid MEANS depend on summation order), so
      // the whole loop runs quantized: coordinates fix to integers via
      // the q_sim_quantized-proven floor(x*1000 + 0.5) form, distances
      // are BIGINT Σ(v−c)², argmin ties pack as d2*8+cid (min picks
      // smallest distance then smallest centroid), and centroid
      // updates divide with a +100000 offset so Spark's truncating
      // `div` and DuckDB's flooring `//` agree on negative sums. Init
      // = the 8 lowest vec_ids (data-derived, the IVF convention).
      // Scale shape per round: assignment = one co-partitioned join of
      // the (vec, dim, value) long form with the broadcast-sized
      // centroid triples + two hash aggs; update = one (cid, dim) agg
      // — the canonical distributed Lloyd plan, no driver data. An
      // empty cluster drops out deterministically in both engines.
      "q_ml_kmeans",
      (s, d) => {
        val K = 8
        val lng = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(expr(
            """transform(embedding,
              | x -> cast(floor(cast(x as double) * 1000.0D + 0.5D)
              |   as bigint))""".stripMargin)).as(Seq("i", "v")))
          // r16 (guide §1.2): LAZY — first-round use materializes it
          // into the checkpoint cache; every later read hits the cache
          .localCheckpoint(eager = false)
        var cents = lng.filter(col("vec_id") < K)
          .select(col("vec_id").as("cid"), col("i"), col("v").as("c"))
        def assign(cs: org.apache.spark.sql.DataFrame) = lng
          .join(broadcast(cs), Seq("i"))
          .groupBy(col("vec_id"), col("cid"))
          .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("d2"))
          .groupBy(col("vec_id"))
          .agg(min(col("d2") * K + col("cid")).as("pack"))
          .select(col("vec_id"), (col("pack") % K).as("cid"),
            expr(s"pack div $K").as("d2"))
        for (_ <- 1 to 2) {
          val a = assign(cents)
          cents = a.join(lng, Seq("vec_id"))
            .groupBy(col("cid"), col("i"))
            .agg(((sum(col("v")) + count(lit(1)) * 100000L).cast(LongType))
              .as("num"), count(lit(1)).as("n"))
            .select(col("cid"), col("i"),
              (expr("num div n") - 100000L).as("c"))
            .localCheckpoint(eager = false)
        }
        assign(cents)
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n"), sum(col("d2")).as("inertia"),
            min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
          .orderBy(col("cid"))
      },
      Some("""WITH lng AS MATERIALIZED (
        |  SELECT vec_id, i, qv[i] AS v FROM (
        |    SELECT vec_id,
        |      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
        |        * 1000.0 + 0.5) AS BIGINT)) AS qv,
        |      unnest(range(1, 65)) AS i
        |    FROM embeddings)),
        |c0 AS (SELECT vec_id AS cid, i, v AS c FROM lng WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, pack % 8 AS cid FROM (
        |    SELECT vec_id, MIN(d2 * 8 + cid) AS pack FROM (
        |      SELECT l.vec_id, c.cid, SUM((l.v - c.c) * (l.v - c.c)) AS d2
        |      FROM lng l JOIN c0 c ON l.i = c.i GROUP BY 1, 2) x
        |    GROUP BY 1) y),
        |c1 AS (SELECT a.cid, l.i,
        |         (SUM(l.v) + COUNT(*) * 100000) // COUNT(*) - 100000 AS c
        |       FROM a1 a JOIN lng l ON a.vec_id = l.vec_id
        |       GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, pack % 8 AS cid FROM (
        |    SELECT vec_id, MIN(d2 * 8 + cid) AS pack FROM (
        |      SELECT l.vec_id, c.cid, SUM((l.v - c.c) * (l.v - c.c)) AS d2
        |      FROM lng l JOIN c1 c ON l.i = c.i GROUP BY 1, 2) x
        |    GROUP BY 1) y),
        |c2 AS (SELECT a.cid, l.i,
        |         (SUM(l.v) + COUNT(*) * 100000) // COUNT(*) - 100000 AS c
        |       FROM a2 a JOIN lng l ON a.vec_id = l.vec_id
        |       GROUP BY 1, 2),
        |a3 AS (SELECT vec_id, (pack % 8)::BIGINT AS cid, pack // 8 AS d2 FROM (
        |    SELECT vec_id, MIN(d2 * 8 + cid) AS pack FROM (
        |      SELECT l.vec_id, c.cid, SUM((l.v - c.c) * (l.v - c.c)) AS d2
        |      FROM lng l JOIN c2 c ON l.i = c.i GROUP BY 1, 2) x
        |    GROUP BY 1) y)
        |SELECT cid, COUNT(*)::BIGINT AS n, SUM(d2)::BIGINT AS inertia,
        |  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
        |FROM a3 GROUP BY cid ORDER BY cid""".stripMargin))
  )
}
