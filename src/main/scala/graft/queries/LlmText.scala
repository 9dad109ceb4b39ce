package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + additional dedup/similarity operators for the
  * training-data pipeline (task brief: language-ID, quality scoring,
  * token counting, fingerprinting, SimHash, embedding-cosine near-dup,
  * multimodal binary columns).
  *
  * Scale notes: everything groups/joins on (lang | label | token)
  * keys — no global state; SimHash reduces each document to one 60-bit
  * signature before the pair join (the same sketch-first shape as
  * MinHash); the binary query treats text bytes as an opaque BLOB the
  * way image/audio payloads would flow.
  */
object LlmText extends QueryGroup {

  /** 60-bit token hash both engines can compute identically: first
    * 15 hex chars of md5, parsed base-16. */
  private val tokHash60 = HashGate.h60Sql("tok")

  // (Measurement history of the DELETED nested-HOF simhash expression —
  // r3's SWAR attempt, r16's replacement by 60 codegen bit-count SUM
  // aggregates — now lives with q_dedup_simhash's comment block below.)
  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_text_langid",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), " ")).as("token"))
        val prof = tok.groupBy(col("lang"), col("token"))
          .agg(count(lit(1)).as("n"))
          .withColumn("r", row_number().over(Window.partitionBy(col("lang"))
            .orderBy(col("n").desc, col("token").asc)))
          .filter(col("r") <= 20)
          .select(col("lang").as("plang"), col("token"))
        val dt = tok.dropDuplicates("doc_id", "lang", "token")
        val sc = dt.join(broadcast(prof), "token")
          .groupBy(col("doc_id"), col("lang"), col("plang"))
          .agg(count(lit(1)).as("score"))
        val pred = sc.withColumn("r", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score").desc, col("plang").asc)))
          .filter(col("r") === 1)
          .select(col("doc_id"), col("plang"))
        Tables.documents(s, d).select(col("doc_id"), col("lang"))
          .join(pred, Seq("doc_id"), "left")
          .select(col("lang"), coalesce(col("plang"), lit("none")).as("pred_lang"))
          .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some("""WITH tok AS MATERIALIZED (SELECT doc_id, lang,
        |         unnest(string_split(lower(text), ' ')) AS token
        |       FROM documents),
        |prof AS (SELECT lang AS plang, token FROM (
        |           SELECT lang, token,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |               ORDER BY COUNT(*) DESC, token ASC) AS r
        |           FROM tok GROUP BY lang, token) WHERE r <= 20),
        |dt AS (SELECT DISTINCT doc_id, lang, token FROM tok),
        |sc AS (SELECT dt.doc_id, dt.lang, prof.plang, COUNT(*) AS score
        |       FROM dt JOIN prof USING (token) GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, plang FROM (
        |           SELECT doc_id, plang,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id
        |               ORDER BY score DESC, plang ASC) AS r
        |           FROM sc) WHERE r = 1)
        |SELECT d.lang, COALESCE(p.plang, 'none') AS pred_lang,
        |       COUNT(*)::BIGINT AS n
        |FROM documents d LEFT JOIN pred p USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      "q_text_quality",
      (s, d) => Tables.documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_dist", size(array_distinct(split(col("text"), " "))))
        .withColumn("ttr", col("n_dist").cast(DoubleType) / col("n_tok"))
        .withColumn("avg_len",
          (col("n_chars") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok"))
        .withColumn("score",
          lit(0.4) * least(col("n_tok").cast(DoubleType) / 100, lit(1.0))
            + lit(0.3) * col("ttr")
            + lit(0.3) * least(col("avg_len") / 8, lit(1.0)))
        .groupBy(floor(col("score") * 10).cast(IntegerType).as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("score")), 4).as("avg_score"))
        .orderBy(col("bucket")),
      Some("""SELECT (floor(score * 10))::INTEGER AS bucket,
        | COUNT(*)::BIGINT AS n, ROUND(AVG(score), 4) AS avg_score
        |FROM (SELECT
        |        0.4 * least(n_tok::DOUBLE / 100, 1.0)
        |          + 0.3 * (n_dist::DOUBLE / n_tok)
        |          + 0.3 * least(((n_chars - (n_tok - 1))::DOUBLE / n_tok) / 8, 1.0)
        |          AS score
        |      FROM (SELECT n_chars,
        |              len(string_split(text, ' ')) AS n_tok,
        |              len(list_distinct(string_split(text, ' '))) AS n_dist
        |            FROM documents))
        |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    QueryDef(
      "q_text_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .withColumn("fp", expr(
          """array_min(transform(sequence(0, size(w)-5),
            | i -> md5(concat_ws('_', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))))"""
            .stripMargin))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"))
        .orderBy(col("lang")),
      Some("""SELECT lang, COUNT(*)::BIGINT AS n_docs,
        | COUNT(DISTINCT fp)::BIGINT AS n_distinct_fp
        |FROM (SELECT lang,
        |        list_min(list_transform(range(1, len(w)-3),
        |          i -> md5(w[i]||'_'||w[i+1]||'_'||w[i+2]||'_'||w[i+3]||'_'||w[i+4]))) AS fp
        |      FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
        |      WHERE len(w) >= 5)
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      // token counting two ways: whitespace split vs a BPE-ish regex
      // tokenizer ([a-z0-9]+ runs) — the per-doc token budget estimator
      // a training-data pipeline runs before packing sequences
      "q_text_tokens",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          size(split(col("text"), " ")).as("ws"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
            .as("re"),
          length(col("text")).as("chars"))
        .groupBy(col("lang"))
        .agg(sum(col("ws").cast(LongType)).as("n_ws_tokens"),
          sum(col("re").cast(LongType)).as("n_re_tokens"),
          sum(col("chars").cast(LongType)).as("n_chars"),
          (sum(col("chars").cast(LongType)).cast(DoubleType)
            / sum(col("re").cast(LongType))).as("chars_per_token"))
        .orderBy(col("lang")),
      Some("""SELECT lang,
        | SUM(len(string_split(text, ' ')))::BIGINT AS n_ws_tokens,
        | SUM(len(regexp_extract_all(text, '[a-z0-9]+')))::BIGINT AS n_re_tokens,
        | SUM(length(text))::BIGINT AS n_chars,
        | CAST(SUM(length(text)) AS DOUBLE)
        |   / SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS chars_per_token
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      // Overlapping context-window chunking (added r7): the RAG /
      // long-context sharding primitive — every document split into
      // 200-char windows on a 150-char stride (50-char overlap so no
      // boundary-straddling span is lost), chunk starts 1, 151, 301, …
      // while <= n_chars. Map-only: sequence → transform → explode
      // fans each row out to its windows with ZERO shuffle of the
      // corpus (the one shuffle is the per-lang rollup, metadata-
      // sized) — at 100 TB chunking must be embarrassingly parallel
      // or it isn't runnable. The fp_lo/fp_hi pair is the proof the
      // two engines produced byte-identical chunk MULTISETS, not just
      // equal counts: a 60-bit md5 per chunk split into 30-bit halves,
      // each half summed in BIGINT (exact to ~2^33 rows — r7's single
      // DECIMAL(38,0) sum matched values on both scales but the
      // driver's hasher renders >64-bit decimals differently per
      // engine, so the fingerprint must never leave int64 range).
      // n_docs counts FIRST chunks (p = 1, every doc has one) rather
      // than COUNT(DISTINCT doc_id): the distinct form expands to a
      // second Exchange keyed (lang, doc_id); the first-chunk count is
      // the same number with plain partial+final — PlanSpec pins the
      // single pre-sort shuffle.
      "q_text_chunk",
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          explode(expr(
            """transform(sequence(1, cast(n_chars as int), 150),
              | p -> struct(p AS p, substring(text, p, 200) AS chunk))"""
              .stripMargin)).as("pc"))
        .select(col("lang"), col("pc.p").as("p"), col("pc.chunk").as("chunk"))
        .groupBy(col("lang"))
        .agg(count(when(col("p") === 1, 1)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(length(col("chunk")).cast(LongType)).as("n_chunk_chars"),
          sum(expr(HashGate.h60Sql("chunk") + " & 1073741823")).as("fp_lo"),
          sum(expr(s"shiftright(${HashGate.h60Sql("chunk")}, 30)"))
            .as("fp_hi"))
        .orderBy(col("lang")),
      Some("""WITH c AS (
        |  SELECT lang, p, substr(text, p::INT, 200) AS chunk
        |  FROM (SELECT lang, doc_id, text,
        |          unnest(range(1, n_chars + 1, 150)) AS p
        |        FROM documents))
        |SELECT lang, COUNT(CASE WHEN p = 1 THEN 1 END)::BIGINT AS n_docs,
        |  COUNT(*)::BIGINT AS n_chunks,
        |  SUM(length(chunk))::BIGINT AS n_chunk_chars,
        |  SUM(('0x' || substr(md5(chunk), 1, 15))::BIGINT & 1073741823)
        |    ::BIGINT AS fp_lo,
        |  SUM(('0x' || substr(md5(chunk), 1, 15))::BIGINT >> 30)
        |    ::BIGINT AS fp_hi
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      // Corpus-wide paragraph dedup (added r7): the C4/RefinedWeb step
      // the doc-level dedup family can't do — boilerplate repeats at
      // SUB-document granularity, so the unit is the paragraph (here:
      // non-overlapping 10-token windows of the token-soup fixture),
      // keep-first by (doc_id, position) corpus-wide. The keep-first
      // winner per hash is ONE arg-min aggregate keyed on the
      // paragraph hash (the q_dedup_exact discipline — never a window
      // sort over the corpus, whose per-hash ORDER BY is the skew
      // hazard the oracle's ROW_NUMBER form would hit at 100 TB). Two
      // corpus shuffles total: instance rollup keyed on lang, winner
      // agg keyed on the 60-bit hash. fp_lo/fp_hi (60-bit md5 of each
      // KEPT paragraph split into 30-bit halves, each summed in
      // BIGINT — the int64-safe fingerprint q_text_chunk documents)
      // prove both engines kept the identical paragraph SET; n_kept
      // attributes each hash group to its winner's language.
      "q_dedup_paragraph",
      (s, d) => {
        val paras = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            split(lower(col("text")), " ").as("toks"))
          .select(col("doc_id"), col("lang"),
            posexplode(expr(
              """transform(sequence(0, (size(toks) - 1) div 10),
                | i -> array_join(slice(toks, i * 10 + 1, 10), ' '))"""
                .stripMargin)))
          .toDF("doc_id", "lang", "p", "para")
          .withColumn("h", expr(HashGate.h60Sql("para")))
        val inst = paras.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_paras"))
        // keep-first order key: (doc_id, p) packed into one BIGINT.
        // Bit budget (r16 review — the q_graph_label_prop class: a
        // bound that lived in a comment): 2^26 paragraph slots per doc
        // (a 67M-token ≈ 400 MB document — nothing smaller can breach
        // it) x 2^37 ≈ 137G docs before int64 overflow. The p bound is
        // CHECKED in-row (assert_true rides the same pass — zero extra
        // jobs; p carries no downstream equality filter, so the r14
        // ConstantPropagation trap does not apply); the old 100000
        // multiplier let a 1M-token doc silently bleed its slots into
        // the next doc's range and mis-attribute keep-first winners.
        val POrd = 1L << 26
        val kept = paras
          .withColumn("ord", col("doc_id") * POrd + col("p")
            + coalesce(assert_true(col("p") < POrd,
                lit("q_dedup_paragraph: paragraph index >= 2^26 — the " +
                  "(doc_id, p) packing would collide")).cast("long"),
              lit(0L)))
          .groupBy(col("h"))
          .agg(min_by(col("lang"), col("ord")).as("lang"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("h").bitwiseAND(lit(1073741823L))).as("fp_lo"),
            sum(shiftright(col("h"), 30)).as("fp_hi"))
        inst.join(kept, Seq("lang"))
          .select(col("lang"), col("n_paras"), col("n_kept"),
            (col("n_paras") - col("n_kept")).as("n_dropped_instances"),
            col("fp_lo"), col("fp_hi"))
          .orderBy(col("lang"))
      },
      Some("""WITH paras AS (
        |  SELECT doc_id, lang, i AS p,
        |    array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ') AS para
        |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
        |        FROM documents),
        |    UNNEST(range(0, (len(toks) - 1) // 10 + 1)) AS u(i)),
        |ph AS (SELECT doc_id, lang, p,
        |         ('0x' || substr(md5(para), 1, 15))::BIGINT AS h
        |       FROM paras),
        |inst AS (SELECT lang, COUNT(*)::BIGINT AS n_paras
        |         FROM ph GROUP BY 1),
        |winner AS (SELECT h, arg_min(lang, doc_id * 67108864 + p) AS lang
        |           FROM ph GROUP BY h),
        |kept AS (SELECT lang, COUNT(*)::BIGINT AS n_kept,
        |           SUM(h & 1073741823)::BIGINT AS fp_lo,
        |           SUM(h >> 30)::BIGINT AS fp_hi
        |         FROM winner GROUP BY 1)
        |SELECT i.lang, n_paras, n_kept,
        |  n_paras - n_kept AS n_dropped_instances, fp_lo, fp_hi
        |FROM inst i JOIN kept USING (lang)
        |ORDER BY lang""".stripMargin)),

    QueryDef(
      // Substring-level duplicated-span detection (added r8): the
      // finest dedup granularity in the family — q_dedup_paragraph
      // works on NON-overlapping 10-token blocks, so a duplicated
      // passage that straddles a block boundary (or starts mid-block)
      // is invisible to it. This is the published windowed-fingerprint
      // factorization of exact-substring dedup (the suffix-array
      // approach of Lee et al., "Deduplicating Training Data Makes
      // Language Models Better", recast shuffle-friendly): hash EVERY
      // 10-token window at stride 1, a window whose 60-bit fingerprint
      // occurs more than once corpus-wide marks all 10 of its token
      // positions as duplicated, and per-document coverage is the
      // count of DISTINCT flagged positions (interval union without an
      // interval-merge pass — the 10x flagged-window explode is
      // bounded and keyed, a sort-based merge per doc is not). Scale
      // profile: two map-only passes over the corpus, aggs keyed on
      // the window hash / (doc, position) — never doc x doc, never a
      // suffix array's global sort. Short docs (<10 tokens) emit no
      // windows but stay in the per-lang totals.
      "q_dedup_ngram_spans",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            split(lower(col("text")), " ").as("toks"))
        val tot = toks.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("toks")).cast(LongType)).as("n_tokens"))
        val wins = toks.filter(size(col("toks")) >= 10)
          .select(col("doc_id"), col("lang"),
            posexplode(expr(
              """transform(sequence(1, size(toks) - 9),
                | i -> cast(conv(substring(
                |   md5(array_join(slice(toks, i, 10), ' ')), 1, 15),
                |   16, 10) as bigint))""".stripMargin)))
          .select(col("doc_id"), col("lang"),
            (col("pos") + 1).as("start"), col("col").as("h"))
        val dup = wins.groupBy(col("h"))
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
          .select(col("h"))
        val cov = wins.join(dup.hint("shuffle_hash"), Seq("h"))
          .select(col("doc_id"), col("lang"),
            explode(expr("sequence(start, start + 9)")).as("p"))
        val agg = cov.groupBy(col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_docs_with_dups"),
            countDistinct(col("doc_id"), col("p")).as("n_dup_tokens"))
        tot.join(agg, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            coalesce(col("n_docs_with_dups"), lit(0L))
              .as("n_docs_with_dups"),
            coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
            round(coalesce(col("n_dup_tokens"), lit(0L))
              .cast(DoubleType) / col("n_tokens"), 4)
              .as("dup_token_rate"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS MATERIALIZED (SELECT doc_id, lang,
        |         string_split(lower(text), ' ') AS toks FROM documents),
        |tot AS (SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |          SUM(len(toks))::BIGINT AS n_tokens
        |        FROM t GROUP BY 1),
        |w AS (SELECT doc_id, lang, i AS start,
        |        ('0x' || substr(md5(
        |           array_to_string(toks[i : i + 9], ' ')), 1, 15))::BIGINT
        |          AS h
        |      FROM t, UNNEST(range(1, len(toks) - 8)) AS u(i)
        |      WHERE len(toks) >= 10),
        |dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) > 1),
        |cov AS (SELECT DISTINCT f.doc_id, f.lang, r.p
        |        FROM w f JOIN dup USING (h),
        |          UNNEST(range(f.start, f.start + 10)) AS r(p)),
        |agg AS (SELECT lang, COUNT(DISTINCT doc_id)::BIGINT
        |            AS n_docs_with_dups,
        |          COUNT(*)::BIGINT AS n_dup_tokens
        |        FROM cov GROUP BY 1)
        |SELECT tot.lang, n_docs, n_tokens,
        |  COALESCE(n_docs_with_dups, 0)::BIGINT AS n_docs_with_dups,
        |  COALESCE(n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
        |  ROUND(COALESCE(n_dup_tokens, 0)::DOUBLE / n_tokens, 4)
        |    AS dup_token_rate
        |FROM tot LEFT JOIN agg USING (lang)
        |ORDER BY lang""".stripMargin)),

    QueryDef(
      "q_dedup_simhash",
      (s, d) => {
        // md5 once per exploded token row; the aggregation boundary keeps
        // the optimizer from re-inlining the hash into the bit counters.
        //
        // r16 signature computation (guide §4.1 — built-ins/codegen over
        // interpreted lambdas; §2.3 — shuffle fewer bytes): the old form
        // collect_list'ed every token hash through the shuffle and then
        // folded the list with a NESTED higher-order aggregate — 60
        // re-walks of hs per doc, one fresh ±1 array per bit, all
        // interpreted. The signature bit j is set iff the ±1 sum over
        // tokens is >= 0, i.e. 2·(count of tokens with bit j set) >= n —
        // so the same integers come out of 60 plain map-side-combinable
        // SUM(bit) aggregates plus one codegen'd scalar fold over the 60
        // counters: whole-stage codegen end to end, and the exchange
        // carries 61 BIGINTs per doc instead of every token hash.
        // (Earlier history: r3 tried a single-pass SWAR fold — 60 packed
        // counters in 15 bigints — and measured it SLOWER than the
        // nested-HOF form this replaced: interpreted named_struct
        // construction per token lost to 60 cache-friendly passes over a
        // small primitive array. The r16 SUM form beats both because it
        // never materializes the per-doc hash list at all.)
        val bitCnt = (0 until 60).map(j =>
          sum(expr(s"shiftright(h, $j) & 1")).as(s"c$j"))
        val sigExpr = (0 until 60)
          .map(j => when(col(s"c$j") * 2 >= col("nt"), lit(1L << j))
            .otherwise(lit(0L)))
          .reduce(_ + _)
        val sigs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), " ")).as("tok"))
          .select(col("doc_id"), col("lang"), expr(tokHash60).as("h"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("nt"), bitCnt: _*)
          .select(col("doc_id"), col("lang"), sigExpr.as("sig"))
        // Candidate generation is a band equi-join, not a per-lang pair
        // join (the round-1 scale-killer: one near-cartesian task per
        // language). Split the 60-bit signature into 15 bands of 4 bits;
        // by pigeonhole, hamming(x, y) <= 14 forces at least one band to
        // match exactly, so the (lang, band, bits) equi-join + hamming
        // post-filter returns the IDENTICAL result set while shuffling
        // on a 15*16-way key. Three tricks keep it cheap:
        //  - both join sides derive from the same `bands` subplan, so
        //    AQE ReusedExchange runs the md5-per-token sketch pass once
        //    (measured round 1/2: an explicit persist() here is 3-5x
        //    SLOWER — cache build runs outside whole-stage codegen and
        //    blocks shuffle-stage reuse — so there is deliberately none);
        //  - each pair is emitted only from its FIRST matching band:
        //    x = nibble-nonzero mask of sig_a^sig_b, and the join keeps
        //    a row iff every nibble below `band` is nonzero — pure long
        //    arithmetic (codegen-friendly), so no dedup shuffle over the
        //    multi-band match multiplicity is needed;
        //  - the join is hinted SHUFFLE_HASH (r3, Scratch-measured 4.7 s
        //    vs 9.0 s for sort-merge at sf0.1): the data is dense in
        //    sig space (552 k qualifying pairs from 5 k docs), so the
        //    join streams ~10 M key-matched candidates; hashing one
        //    side per partition beats sorting BOTH exploded sides.
        //    Scale-safe, unlike a broadcast: the build side is one
        //    shuffle partition of the (lang, band, bits) key — bounded
        //    by the 15*16-per-lang fan-out — not the whole corpus.
        //    (A 5x12-bit multi-probe key (79 masks, <=2-error groups)
        //    was also measured: 3.5x fewer candidates but no wall-clock
        //    win — probe generation ate the gain; not adopted.)
        val bands = sigs.select(col("doc_id"), col("lang"), col("sig"),
          explode(expr(
            """transform(sequence(0, 14),
              | b -> struct(b AS band,
              |   (shiftright(sig, 4*b) & 15) AS bits))""".stripMargin))
            .as("bb"))
          .select(col("doc_id"), col("lang"), col("sig"),
            col("bb.band").as("band"), col("bb.bits").as("bits"))
        val a = bands.select(col("doc_id").as("a"), col("lang"),
          col("band"), col("bits"), col("sig").as("sig_a"))
        val b = bands.select(col("doc_id").as("b"),
          col("lang").as("lang_b"), col("band").as("band_b"),
          col("bits").as("bits_b"), col("sig").as("sig_b"))
        // nonzero-nibble mask: bit 4j of x is set iff nibble j of the
        // sig xor is nonzero; first-match iff all nibbles below band
        // are nonzero iff (x & lowmask) = lowmask
        val firstBand = expr(
          """(((sig_a ^ sig_b) | shiftright(sig_a ^ sig_b, 1)
            |  | shiftright(sig_a ^ sig_b, 2) | shiftright(sig_a ^ sig_b, 3))
            | & 76861433640456465
            | & (shiftleft(cast(1 as bigint), 4 * band) - 1))
            |= (76861433640456465
            |   & (shiftleft(cast(1 as bigint), 4 * band) - 1))"""
            .stripMargin)
        a.join(b.hint("shuffle_hash"),
            col("lang") === col("lang_b") && col("band") === col("band_b")
              && col("bits") === col("bits_b") && col("a") < col("b")
              && bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= 14
              && firstBand)
          .select(col("a"), col("b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
              .cast(IntegerType).as("hamming"))
          .orderBy(col("a"), col("b"))
      },
      // sigs AS MATERIALIZED: the self-join references it twice, and
      // inlining recomputes the md5-per-token 60-bit signature pass
      // per side — materialized, it runs once (the all-pairs join
      // itself is the oracle's deliberate cost and is unchanged)
      Some("""WITH sigs AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN list_sum(list_transform(toks, tok ->
        |        CASE WHEN ((('0x'||substr(md5(tok),1,15))::BIGINT >> j) & 1) = 1
        |             THEN 1 ELSE -1 END)) >= 0
        |      THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS sig
        |  FROM (SELECT doc_id, lang,
        |          string_split(lower(text), ' ') AS toks FROM documents))
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  bit_count(xor(a.sig, b.sig))::INTEGER AS hamming
        |FROM sigs a JOIN sigs b
        |  ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 14
        |ORDER BY a, b""".stripMargin)),

    QueryDef(
      // EXACT small-scale twin of the approximate paths — deliberately
      // NOT a 100 TB plan. At threshold cos >= 0.4 no LSH/IVF prefilter
      // is recall-safe (a 0.4-cos pair can land in any pair of coarse
      // cells), so the exact answer requires the per-label pair join
      // below, O(n^2/labels). This is the embedding analogue of
      // q_dedup_near_jaccard vs q_dedup_minhash_lsh: use THIS to
      // validate, and q_sim_ann_lsh / q_sim_ann_ivf as the scale path.
      "q_dedup_embcos",
      (s, d) => {
        val l2 = "sqrt(fdot(emb, emb))"
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding").as("emb"))
          .withColumn("nrm", expr(l2))
        val a = e.select(col("vec_id").as("a"), col("label"),
          col("emb").as("emb_a"), col("nrm").as("nrm_a"))
        val b = e.select(col("vec_id").as("b"), col("label").as("label_b"),
          col("emb").as("emb_b"), col("nrm").as("nrm_b"))
        val dot = expr("fdot(emb_a, emb_b)")
        a.join(b, col("label") === col("label_b") && col("a") < col("b"))
          .withColumn("cos", dot / (col("nrm_a") * col("nrm_b")))
          .filter(col("cos") >= 0.4)
          .select(col("a"), col("b"), col("label"), round(col("cos"), 4).as("cos"))
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS emb
        |           FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b, a.label,
        |  ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
        |ORDER BY a, b""".stripMargin)),

    QueryDef(
      // Semantic dedup, SemDeDup-shaped (added r7): cluster the
      // embedding space into 16 data-derived centroid cells (the 16
      // lowest vec_ids — deterministic on both engines), then dedup
      // only WITHIN cells: a vector is dropped when an earlier (lower
      // id) cell-mate sits within the cosine threshold (0.35 —
      // calibrated to the fixture's near-orthogonal synthetic
      // embeddings; production text embeddings would use ~0.95+).
      // This is the published SemDeDup factorization of the O(n²)
      // semantic-pair problem: pair joins run per cell (Σ n_c² work,
      // centroids broadcast), never corpus × corpus — the same
      // argument as q_sim_ann_ivf, but driving a KEEP/DROP decision
      // instead of a top-k. The shadow rule (dropped iff ANY earlier
      // cell-mate within θ) is order-free and parallel, unlike greedy
      // sequential SemDeDup — and therefore oracle-checkable. Per
      // cell: n, n_dropped, kept-id sum (the kept-set fingerprint).
      "q_dedup_semantic",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").as("emb"))
          .withColumn("nrm", expr("sqrt(fdot(emb, emb))"))
        val cent = e.orderBy(col("vec_id")).limit(16)
          .select(col("vec_id").as("cid"), col("emb").as("cemb"),
            col("nrm").as("cnrm"))
        // materialized ONCE: the pair join reads `assigned` twice and
        // the rollup a third time, and Catalyst does not reuse the
        // assignment exchange across those branches (measured: the
        // corpus x 16-centroid scoring pass ran 3x) — at 100 TB the
        // assignment table is exactly what you'd persist
        // arg-min over the (−cos, cid) struct: an exact cosine tie
        // between two centroids resolves to the LOWER cid on both
        // engines (the oracle mirrors it as ORDER BY cos DESC, cid) —
        // a bare min_by on −cos alone would resolve ties
        // engine-arbitrarily and cascade into different drop sets
        val assigned = e.crossJoin(broadcast(cent))
          .withColumn("cos_c",
            expr("fdot(emb, cemb)") / (col("nrm") * col("cnrm")))
          .groupBy(col("vec_id"))
          .agg(min_by(col("cid"), struct(-col("cos_c"), col("cid")))
            .as("cell"),
            first(col("emb")).as("emb"), first(col("nrm")).as("nrm"))
          .localCheckpoint(eager = false)
        val a = assigned.select(col("cell"), col("vec_id").as("a"),
          col("emb").as("emb_a"), col("nrm").as("nrm_a"))
        val b = assigned.select(col("cell").as("cell_b"),
          col("vec_id").as("b"), col("emb").as("emb_b"),
          col("nrm").as("nrm_b"))
        val shadowed = a
          .join(b, col("cell") === col("cell_b") && col("a") < col("b"))
          .filter(expr("fdot(emb_a, emb_b)")
            / (col("nrm_a") * col("nrm_b")) >= 0.35)
          .select(col("b").as("vec_id")).distinct()
          .withColumn("dropped", lit(1L))
        assigned.join(shadowed, Seq("vec_id"), "left")
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"),
            sum(when(col("dropped").isNull, col("vec_id")))
              .as("kept_id_sum"))
          .orderBy(col("cell"))
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb
        |           FROM embeddings),
        |cent AS (SELECT vec_id AS cid, emb AS cemb FROM e
        |         ORDER BY vec_id LIMIT 16),
        |a AS (SELECT vec_id, emb, cid AS cell FROM (
        |        SELECT e.vec_id, e.emb, c.cid,
        |          ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |            ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC,
        |                     c.cid) AS rn
        |        FROM e CROSS JOIN cent c) WHERE rn = 1),
        |sh AS (SELECT DISTINCT y.vec_id
        |       FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |       WHERE list_cosine_similarity(x.emb, y.emb) >= 0.35)
        |SELECT a.cell, COUNT(*)::BIGINT AS n,
        |  SUM(CASE WHEN sh.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_dropped,
        |  SUM(CASE WHEN sh.vec_id IS NULL THEN a.vec_id END)::BIGINT
        |    AS kept_id_sum
        |FROM a LEFT JOIN sh USING (vec_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef(
      "q_multimodal_binary",
      (s, d) => Tables.documents(s, d)
        // text bytes stand in for an opaque media BLOB column: the plan
        // (binary payload + typed metadata flowing through agg) is what
        // an image/audio pipeline shuffles at 100 TB
        .select(col("lang"), encode(col("text"), "utf-8").as("payload"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("payload"))).as("total_bytes"),
          max(length(col("payload")).cast(LongType)).as("max_bytes"))
        .orderBy(col("lang")),
      Some("""SELECT lang, COUNT(*)::BIGINT AS n_docs,
        | SUM(octet_length(encode(text)))::BIGINT AS total_bytes,
        | MAX(octet_length(encode(text)))::BIGINT AS max_bytes
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      // End-to-end multimodal pipeline (added r4): runs the REAL
      // graft.multimodal plumbing — media table (opaque payload + typed
      // metadata) -> resize metadata -> per-partition decode +
      // feature-extract (mapPartitions, codec init once per partition;
      // the codec itself is the declared deterministic stub — no media
      // libs in this environment) -> every-7th frame sampling -> join.
      // The oracle hash-checks every integer-exact quantity that
      // crosses the pipeline: n_bytes comes OUT of the mapPartitions
      // decode rows, sampled-frame counts out of the metadata explode;
      // the float feature vectors themselves are gated in
      // MultimodalSpec (deterministic stub, partition-count invariant).
      "q_multimodal_pipeline",
      (s, d) => {
        import graft.multimodal.Multimodal
        // r15: audio rows carry REAL FLAC assets (PCM = the text's
        // ASCII code points), video rows REAL ISO-BMFF box streams;
        // r16: image rows carry REAL PNG/BMP/GIF/JPEG containers
        // (grayscale folds of the text bytes at the imageDims
        // geometry) — so ALL SIX codecs' decode integer outputs are
        // hash-gated by the driver's oracle, not just ScalaTest
        // the fixture table is a single parquet file = ONE scan
        // partition, which would run every FLAC encode+decode on one
        // thread; spreading the docs across the configured shuffle
        // parallelism BEFORE synthesis is the operator scaladoc's
        // "repartition by a size-balanced key before decode" move (the
        // one exchange carries raw text, never payload bytes)
        val docs = Tables.documents(s, d).repartition(
          s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
        val media = Multimodal.resizeMeta(
          Multimodal.mediaFromDocumentsCodec(docs), 224, 224)
        val feats = Multimodal.extractFeatures(media)
        // decoded units per kind, all integer-exact: audio = the FLAC
        // decoder's frame count (audioFeatures[2] == n_chars), video =
        // the MP4 walk's demuxed frame-record count
        // (containerFeatures[4] == meta.n_frames), image (r16) = the
        // DECODED pixel count width × height (imageFeatures[0] ×
        // imageFeatures[1] == the imageDims formula the oracle
        // recomputes from n_chars — exact even through JPEG's lossy
        // sample path, since geometry is header-carried). A payload
        // that silently fell back to the opaque byte-fold in ANY of
        // the six codecs would diverge from the oracle.
        val units = when(col("kind") === "audio",
            element_at(col("features"), 3).cast(LongType))
          .when(col("kind") === "video",
            element_at(col("features"), 5).cast(LongType))
          .otherwise(element_at(col("features"), 1).cast(LongType)
            * element_at(col("features"), 2).cast(LongType))
        val frames = Multimodal.sampleFrames(media, everyK = 7)
          .groupBy(col("media_id")).agg(count(lit(1)).as("n_sampled"))
        feats.join(frames, "media_id")
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n_media"),
            sum(units).as("sum_units"),
            sum(col("n_sampled")).as("n_sampled"),
            round(sum(col("n_sampled")).cast(DoubleType)
              / count(lit(1)), 4).as("avg_sampled"))
          .orderBy(col("kind"))
      },
      Some("""WITH m AS (SELECT doc_id AS media_id,
        |         CASE (doc_id % 3) WHEN 0 THEN 'image'
        |           WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |         CASE (doc_id % 3)
        |           WHEN 1 THEN n_chars
        |           WHEN 2 THEN n_chars % 100 + 1
        |           ELSE CASE WHEN n_chars = 0 THEN 0
        |             ELSE (n_chars % 29 + 1) * (n_chars % 23 + 1) END
        |           END::BIGINT AS units,
        |         ((n_chars % 100 + 1 + 6) // 7)::BIGINT AS n_sampled
        |       FROM documents)
        |SELECT kind, COUNT(*)::BIGINT AS n_media,
        |  SUM(units)::BIGINT AS sum_units,
        |  SUM(n_sampled)::BIGINT AS n_sampled,
        |  ROUND(SUM(n_sampled)::DOUBLE / COUNT(*), 4) AS avg_sampled
        |FROM m GROUP BY kind ORDER BY kind""".stripMargin)),

    QueryDef(
      // deterministic train/val/test split by content-independent hash of
      // the document key — the reproducible-split primitive every training
      // pipeline needs (no RNG, stable across reruns and engines)
      "q_sample_hash_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("bucket", HashGate.bucket("doc_id", 10))
        .withColumn("split",
          when(col("bucket") <= 7, lit("train"))
            .when(col("bucket") === 8, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast(LongType)).as("n_chars_total"))
        .orderBy(col("lang"), col("split")),
      Some("""SELECT lang,
        | CASE WHEN bucket <= 7 THEN 'train'
        |      WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
        | COUNT(*)::BIGINT AS n_docs,
        | SUM(n_chars)::BIGINT AS n_chars_total
        |FROM (SELECT lang, n_chars,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INTEGER % 10
        |          AS bucket
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      // benchmark decontamination: which eval-split documents share a
      // 5-token shingle with ANY train-split document (same lang)? The
      // contamination check every training pipeline runs before
      // holding out an eval set. Inverted-index shape: explode
      // shingle hashes, semi-join on (lang, shingle) — shuffles on the
      // shingle hash, never doc × doc.
      "q_text_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("bucket", HashGate.bucket("doc_id", 10))
          .select(col("doc_id"), col("lang"), col("bucket"),
            split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 5)
        val sh = docs.select(col("doc_id"), col("lang"), col("bucket"),
          explode(expr(
            """transform(sequence(0, size(w)-5),
              | i -> md5(concat_ws('_', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))"""
              .stripMargin)).as("sh"))
        val train = sh.filter(col("bucket") <= 7)
          .select(col("lang"), col("sh")).distinct()
        val contaminated = sh.filter(col("bucket") >= 8)
          .join(train, Seq("lang", "sh"), "left_semi")
          .select(col("lang"), col("doc_id")).distinct()
          .groupBy(col("lang")).agg(count(lit(1)).as("n_cont"))
        docs.filter(col("bucket") >= 8)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_eval"))
          .join(contaminated, Seq("lang"), "left_outer")
          .select(col("lang"), col("n_eval"),
            coalesce(col("n_cont"), lit(0L)).as("n_contaminated"),
            round(coalesce(col("n_cont"), lit(0L)).cast(DoubleType)
              / col("n_eval"), 4).as("rate"))
          .orderBy(col("lang"))
      },
      Some("""WITH w AS MATERIALIZED (SELECT doc_id, lang,
        |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INTEGER % 10
        |           AS bucket,
        |         string_split(text, ' ') AS w
        |       FROM documents
        |       WHERE len(string_split(text, ' ')) >= 5),
        |sh AS MATERIALIZED (SELECT doc_id, lang, bucket,
        |         unnest(list_transform(range(1, len(w)-3),
        |           i -> md5(w[i]||'_'||w[i+1]||'_'||w[i+2]||'_'||w[i+3]||'_'||w[i+4])))
        |           AS sh
        |       FROM w),
        |train AS (SELECT DISTINCT lang, sh FROM sh WHERE bucket <= 7),
        |cont AS (SELECT lang, COUNT(*)::BIGINT AS n_cont
        |         FROM (SELECT DISTINCT e.lang, e.doc_id
        |               FROM sh e JOIN train t
        |                 ON e.lang = t.lang AND e.sh = t.sh
        |               WHERE e.bucket >= 8)
        |         GROUP BY lang),
        |ev AS (SELECT lang, COUNT(*)::BIGINT AS n_eval
        |       FROM w WHERE bucket >= 8 GROUP BY lang)
        |SELECT ev.lang, ev.n_eval,
        |  COALESCE(cont.n_cont, 0)::BIGINT AS n_contaminated,
        |  ROUND(COALESCE(cont.n_cont, 0)::DOUBLE / ev.n_eval, 4) AS rate
        |FROM ev LEFT JOIN cont USING (lang)
        |ORDER BY ev.lang""".stripMargin)),

    QueryDef(
      // sequence packing: assign docs (ordered by doc_id within lang) to
      // fixed 2048-token context windows by cumulative starting offset —
      // the deterministic batch/chunk layout a sequence packer produces.
      // Window cumsum shuffles once on lang; integer math end to end.
      "q_pack_sequences",
      (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast(LongType).as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("pack_id", expr("(cum - n_tok) div 2048"))
          .groupBy(col("lang"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("tokens"),
            round(sum(col("n_tok")).cast(DoubleType) / 2048, 4).as("fill"))
          .orderBy(col("lang"), col("pack_id"))
      },
      Some("""WITH t AS (SELECT doc_id, lang,
        |         len(string_split(text, ' '))::BIGINT AS n_tok
        |       FROM documents),
        |c AS (SELECT lang, n_tok,
        |        SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |SELECT lang, ((cum - n_tok) // 2048)::BIGINT AS pack_id,
        |  COUNT(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS tokens,
        |  ROUND(SUM(n_tok)::DOUBLE / 2048, 4) AS fill
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      // PII redaction (added r5): the scrub pass every training-data
      // pipeline runs before release — emails, then dotted IPv4s, then
      // phone-shaped digit runs, masked in that order so earlier masks
      // cannot be re-matched by later patterns. The synthetic corpus
      // carries no PII, so each doc gets a deterministic PII tail
      // derived from doc_id (same synthesize-from-keys pattern as the
      // frame-graph queries) — masking is then verifiable to the
      // character. Patterns stay in the Java∩RE2 common subset so the
      // DuckDB mirror ('g' flag — DuckDB replaces first-only by
      // default) matches to the byte. Pure narrow map + one lang
      // aggregate: no shuffle before the groupBy, codegen end to end.
      "q_text_pii_scrub",
      (s, d) => {
        val raw = Tables.documents(s, d)
          .withColumn("raw", expr(
            """concat(text, ' contact user', cast(doc_id as string),
              |'@example.com or +1-555-',
              |lpad(cast(doc_id % 10000 as string), 4, '0'),
              |' from 10.', cast(doc_id % 256 as string), '.',
              |cast((doc_id * 7) % 256 as string), '.9')""".stripMargin
              .replace("\n", "")))
        val scrubbed = raw.withColumn("scrub",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("raw"),
                "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
              "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
            "\\+?\\d[\\d-]{6,}\\d", "<PHONE>"))
        scrubbed.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("scrub"))).as("sum_chars"),
            sum(length(col("raw")) - length(col("scrub")))
              .as("chars_redacted"),
            sum((length(col("scrub"))
              - length(replace(col("scrub"), lit("<EMAIL>"), lit(""))))
              / 7).cast(LongType).as("n_emails"),
            sum((length(col("scrub"))
              - length(replace(col("scrub"), lit("<IP>"), lit("")))) / 4)
              .cast(LongType).as("n_ips"))
          .orderBy(col("lang"))
      },
      Some("""WITH r AS (SELECT lang,
        |  text || ' contact user' || doc_id::VARCHAR
        |    || '@example.com or +1-555-'
        |    || lpad((doc_id % 10000)::VARCHAR, 4, '0')
        |    || ' from 10.' || (doc_id % 256)::VARCHAR || '.'
        |    || ((doc_id * 7) % 256)::VARCHAR || '.9' AS raw
        |  FROM documents),
        |sc AS (SELECT lang, raw,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(raw,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d-]{6,}\d', '<PHONE>', 'g') AS scrub
        |  FROM r)
        |SELECT lang, COUNT(*)::BIGINT AS n_docs,
        |  SUM(len(scrub))::BIGINT AS sum_chars,
        |  SUM(len(raw) - len(scrub))::BIGINT AS chars_redacted,
        |  SUM((len(scrub) - len(replace(scrub, '<EMAIL>', ''))) // 7)::BIGINT
        |    AS n_emails,
        |  SUM((len(scrub) - len(replace(scrub, '<IP>', ''))) // 4)::BIGINT
        |    AS n_ips
        |FROM sc GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      // Token-commonality scoring (added r5): per doc, the average
      // corpus frequency of its tokens — the exact-arithmetic cousin
      // of LM-perplexity quality filtering (low commonality ≈ rare
      // vocabulary ≈ either high-value or garbage; high ≈ boilerplate).
      // Deliberately formulated in integers (sum of term frequencies,
      // token count) so the oracle hash-matches where a log-prob score
      // could drift by an ulp between libm implementations; the rounded
      // ratio rides the proven round(x, 4) pattern. Inverted-index
      // shape: tokens join the per-(lang, token) frequency table on the
      // token key — never doc × doc, shuffles bounded by vocab size.
      "q_text_commonality",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), " ")).as("tok"))
        val freq = tok.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        tok.join(freq.hint("shuffle_hash"), Seq("lang", "tok"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tok"), sum(col("tf")).as("sum_tf"),
            round(sum(col("tf")).cast(DoubleType) / count(lit(1)), 4)
              .as("commonality"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS MATERIALIZED (SELECT doc_id, lang,
        |         unnest(string_split(lower(text), ' ')) AS tok
        |       FROM documents),
        |freq AS (SELECT lang, tok, COUNT(*)::BIGINT AS tf
        |         FROM tok GROUP BY 1, 2)
        |SELECT t.doc_id, t.lang, COUNT(*)::BIGINT AS n_tok,
        |  SUM(f.tf)::BIGINT AS sum_tf,
        |  ROUND(SUM(f.tf)::DOUBLE / COUNT(*), 4) AS commonality
        |FROM tok t JOIN freq f ON t.lang = f.lang AND t.tok = f.tok
        |GROUP BY 1, 2 ORDER BY t.doc_id""".stripMargin)),

    QueryDef(
      // URL canonicalization dedup (added r5): crawl dedup's first
      // line of defense — scheme / www / query-string / fragment are
      // presentation, not identity, so the canonical key is
      // lower(host + path) and the keeper per key is the longest doc
      // (ties to the lowest doc_id). Synthetic URLs derive from doc_id
      // with deliberate collisions (40 hosts × 7 paths) and per-doc
      // tracking params that the canonicalizer must strip. One
      // max-struct aggregate — single shuffle on the canonical key, no
      // window, no self-join; the DuckDB mirror states the same pick
      // as a window rank.
      "q_dedup_url",
      (s, d) => {
        val urls = Tables.documents(s, d)
          .withColumn("url", expr(
            """concat('https://', if(doc_id % 3 = 0, 'www.', ''),
              |'site', cast(doc_id % 40 as string), '.com/page/',
              |cast(doc_id % 7 as string),
              |if(doc_id % 2 = 0,
              |   concat('?utm_source=feed&ref=', cast(doc_id as string)),
              |   ''))""".stripMargin.replace("\n", "")))
        urls
          .withColumn("canonical", lower(regexp_extract(col("url"),
            "^https?://(?:www\\.)?([^?#]+)", 1)))
          .groupBy(col("canonical"))
          .agg(count(lit(1)).as("n_urls"),
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id")))
              .as("best"))
          .select(col("canonical"), col("n_urls"),
            (-col("best.neg_id")).as("kept_doc"),
            col("best.n_chars").as("kept_chars"))
          .orderBy(col("canonical"))
      },
      Some("""WITH u AS (SELECT doc_id, n_chars,
        |  lower(regexp_extract(
        |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
        |      || 'site' || (doc_id % 40)::VARCHAR || '.com/page/'
        |      || (doc_id % 7)::VARCHAR
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN '?utm_source=feed&ref=' || doc_id::VARCHAR
        |           ELSE '' END,
        |    '^https?://(?:www\.)?([^?#]+)', 1)) AS canonical
        |  FROM documents),
        |r AS (SELECT canonical, doc_id, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY canonical
        |          ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |        COUNT(*) OVER (PARTITION BY canonical) AS n_urls
        |      FROM u)
        |SELECT canonical, n_urls::BIGINT AS n_urls,
        |  doc_id::BIGINT AS kept_doc, n_chars::BIGINT AS kept_chars
        |FROM r WHERE rn = 1 ORDER BY canonical""".stripMargin)),

    QueryDef(
      // Incremental corpus dedup (added r6): the production crawl shape
      // — dedupe TODAY'S batch against YESTERDAY'S corpus without
      // re-clustering the corpus. The split rides the established
      // md5-bucket gate (buckets 0-7 = standing corpus, 8-9 = incoming
      // batch); content identity is an 8-token-prefix fingerprint (the
      // coarse first-line key crawl dedup uses before shingling — and
      // the only key with real collisions in this duplicate-free
      // synthetic corpus). Two stages, both exact integers: (1) batch
      // rows whose (lang, fp) already exists in the corpus drop via
      // LEFT ANTI on the fingerprint key — at 100 TB this shuffles on
      // fp, never materializes corpus x batch, and the corpus side is
      // a distinct() of keys only (bytes ∝ corpus keys, not corpus
      // text); (2) intra-batch dedup keeps one doc per surviving fp
      // (countDistinct). SHUFFLE_HASH because both sides are large at
      // scale; the per-lang rollup is metadata-sized.
      "q_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("bucket", HashGate.bucket("doc_id", 10))
          .withColumn("fp",
            md5(concat_ws(" ", slice(split(lower(col("text")), " "), 1, 8))))
        val corpus = docs.filter(col("bucket") <= 7)
          .select(col("lang"), col("fp")).distinct()
        val incoming = docs.filter(col("bucket") > 7)
          .select(col("lang"), col("fp"))
        val surv = incoming.join(
          corpus.hint("shuffle_hash"), Seq("lang", "fp"), "left_anti")
        val inAgg = incoming.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_incoming"))
        val survAgg = surv.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_surv"),
            countDistinct(col("fp")).as("n_distinct"))
        inAgg.join(survAgg, Seq("lang"), "left")
          .select(col("lang"), col("n_incoming"),
            (col("n_incoming") - coalesce(col("n_surv"), lit(0L)))
              .as("n_dup_corpus"),
            (coalesce(col("n_surv"), lit(0L))
              - coalesce(col("n_distinct"), lit(0L))).as("n_intra_dup"),
            coalesce(col("n_distinct"), lit(0L)).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH d AS MATERIALIZED (SELECT doc_id, lang,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INTEGER % 10
        |    AS bucket,
        |  md5(array_to_string(string_split(lower(text), ' ')[1:8], ' '))
        |    AS fp
        |  FROM documents),
        |corpus AS (SELECT DISTINCT lang, fp FROM d WHERE bucket <= 7),
        |inc AS (SELECT lang, fp FROM d WHERE bucket > 7),
        |surv AS (SELECT i.lang, i.fp FROM inc i
        |         ANTI JOIN corpus c ON i.lang = c.lang AND i.fp = c.fp),
        |ia AS (SELECT lang, COUNT(*)::BIGINT AS n_incoming
        |       FROM inc GROUP BY 1),
        |sa AS (SELECT lang, COUNT(*)::BIGINT AS n_surv,
        |         COUNT(DISTINCT fp)::BIGINT AS n_distinct
        |       FROM surv GROUP BY 1)
        |SELECT ia.lang, ia.n_incoming,
        |  (ia.n_incoming - COALESCE(sa.n_surv, 0))::BIGINT AS n_dup_corpus,
        |  (COALESCE(sa.n_surv, 0) - COALESCE(sa.n_distinct, 0))::BIGINT
        |    AS n_intra_dup,
        |  COALESCE(sa.n_distinct, 0)::BIGINT AS n_kept
        |FROM ia LEFT JOIN sa ON ia.lang = sa.lang
        |ORDER BY ia.lang""".stripMargin)),

    QueryDef(
      // Audio frame extraction + energy profiling (added r8 — extends
      // the multimodal family beyond whole-payload decode: the
      // FRAME-level access pattern every audio pipeline runs — VAD,
      // loudness normalization, feature windows). The 'audio'-kind
      // media rows (the multimodal/Multimodal.scala kind mapping:
      // doc_id % 3 == 1) expose their payload as a PCM-sample stand-in
      // — the fixture corpus is pure ASCII, so UTF-8 payload bytes ARE
      // the code points, and the oracle can mirror the byte stream
      // character-for-character. Samples frame into non-overlapping
      // 256-sample blocks; per frame an exact integer energy Σ s²;
      // per lang: media count, frame count, total + peak energy. The
      // explode is map-only fan-out (chars → (doc, frame) keys), the
      // only corpus shuffles are the two hash aggs — frame extraction
      // at 100 TB is embarrassingly parallel, exactly like chunking.
      "q_multimodal_audio_frames",
      (s, d) => {
        Tables.documents(s, d)
          .filter(col("doc_id") % 3 === 1)
          .select(col("lang"), col("doc_id"),
            explode(expr(
              """transform(sequence(1, char_length(text)),
                | i -> struct((i - 1) div 256 as frame,
                |   ascii(substring(text, i, 1)) as cp))""".stripMargin))
              .as("x"))
          .groupBy(col("lang"), col("doc_id"), col("x.frame"))
          .agg(sum(expr("cast(x.cp as bigint) * x.cp")).as("energy"))
          .groupBy(col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_media"),
            count(lit(1)).as("n_frames"),
            sum(col("energy")).as("energy_total"),
            max(col("energy")).as("peak_energy"))
          .orderBy(col("lang"))
      },
      Some("""WITH samp AS (
        |  SELECT lang, doc_id,
        |    unnest(list_transform(range(1, length(text) + 1),
        |      i -> ((i - 1) // 256) * 2097152 + unicode(text[i]))) AS p
        |  FROM documents WHERE doc_id % 3 = 1),
        |fr AS (
        |  SELECT lang, doc_id, p // 2097152 AS frame,
        |    SUM((p % 2097152) * (p % 2097152))::BIGINT AS energy
        |  FROM samp GROUP BY lang, doc_id, p // 2097152)
        |SELECT lang, COUNT(DISTINCT doc_id)::BIGINT AS n_media,
        |  COUNT(*)::BIGINT AS n_frames,
        |  SUM(energy)::BIGINT AS energy_total,
        |  MAX(energy)::BIGINT AS peak_energy
        |FROM fr GROUP BY lang ORDER BY lang""".stripMargin))
  )
}
