package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Retrieval, Sampling, Similarity, TextAnalysis => TA}
import graft.streaming.Streaming

/** LLM-training-data operators over the `documents` table: dedup
  * (exact / n-gram Jaccard / MinHash-LSH / SimHash), text analysis
  * (language-ID, quality, tokens, fingerprint). The MinHash/SimHash
  * driver queries run the operators under the engine-portable
  * md5-prefix base hash ([[graft.operators.Dedup.Md5Prefix]]) so DuckDB
  * replays them exactly → full SQL oracles; the xxhash64 library
  * default is pinned by ScalaTest (DedupSpec/StreamingSpec golden
  * values + batch-parity specs).
  */
object DocQueries {

  private val inList = (ws: Seq[String]) => ws.map(w => s"'$w'").mkString(", ")
  private val SPLIT = "string_split(lower(text), ' ')"

  /** The suite's BPE configuration (merge-table size). */
  private val BpeMerges = 16

  /** Single-sourced boilerplate-strip CTE chain (10-word passages,
    * df >= 3) ending in `stripped(doc_id, clean_text, n_kept,
    * n_boiler, n_total)` — shared by the batch query, its streaming
    * twin, and the web-curation pipeline. */
  private val BOILERPLATE_CTES: String =
    s"""w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
       |s AS (SELECT doc_id, ws, len(ws) AS n,
       |  unnest(range(0, (len(ws)-1)//10 + 1)) AS i FROM w),
       |ch AS (SELECT doc_id, i AS chunk_idx,
       |  array_to_string(list_slice(ws, i*10 + 1, least(i*10 + 10, n)), ' ') AS chunk
       |  FROM s),
       |boiler AS (SELECT chunk FROM ch GROUP BY 1
       |  HAVING count(DISTINCT doc_id) >= 3),
       |fl AS (SELECT c.doc_id, c.chunk_idx, c.chunk,
       |    b.chunk IS NOT NULL AS is_boiler
       |  FROM ch c LEFT JOIN boiler b ON c.chunk = b.chunk),
       |tot AS (SELECT doc_id, count(*) AS n_total,
       |    CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
       |  FROM fl GROUP BY 1),
       |reb AS (SELECT doc_id, count(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text
       |  FROM fl WHERE NOT is_boiler GROUP BY 1),
       |stripped AS (SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
       |  coalesce(r.n_kept, 0) AS n_kept, t.n_boiler, t.n_total
       |  FROM tot t LEFT JOIN reb r USING (doc_id))""".stripMargin

  /** Single-sourced boilerplate-strip SQL — grades BOTH the batch
    * operator and its streaming twin (df accumulated by the state
    * store): the arrival engine must not change what counts as
    * boilerplate. */
  private val BOILERPLATE_SQL: String =
    s"""WITH $BOILERPLATE_CTES
       |SELECT doc_id, clean_text, n_kept, n_boiler, n_total FROM stripped""".stripMargin

  /** Single-sourced model-quality CTE chain over a source relation
    * `(doc_id, t, lang)` (t = the text column, any case): features,
    * exact-integer normal equations on the md5-hash seed, adjugate /
    * determinant / sign-factored truncating division to MICRO weights,
    * affine scoring — the full
    * [[graft.operators.TextAnalysis.modelQualityScores]] replay,
    * parameterized so the standalone query and the pipeline cannot
    * drift. Ends in `scored(doc_id, n_words, n_distinct, y, is_seed,
    * score_micro, keep)`. */
  private def modelQualityCtes(srcRel: String): String =
    s"""mq_f AS (SELECT doc_id,
       |    CAST(len(string_split(lower(t), ' ')) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(string_split(lower(t), ' '))) AS BIGINT) AS n_distinct,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
       |    substr(md5(t), 1, 6) < '${Sampling.hashBound(0.6)}' AS is_seed
       |  FROM $srcRel),
       |mq_ne AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(n_words) AS HUGEINT) AS s1,
       |    CAST(sum(n_distinct) AS HUGEINT) AS s2,
       |    CAST(sum(n_words*n_words) AS HUGEINT) AS s11,
       |    CAST(sum(n_words*n_distinct) AS HUGEINT) AS s12,
       |    CAST(sum(n_distinct*n_distinct) AS HUGEINT) AS s22,
       |    CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(n_words*y) AS HUGEINT) AS s1y,
       |    CAST(sum(n_distinct*y) AS HUGEINT) AS s2y
       |  FROM mq_f WHERE is_seed),
       |mq_adj AS (SELECT *, s11*s22 - s12*s12 AS c00, -(s1*s22 - s12*s2) AS c01,
       |    s1*s12 - s11*s2 AS c02, n*s22 - s2*s2 AS c11,
       |    -(n*s12 - s1*s2) AS c12, n*s11 - s1*s1 AS c22 FROM mq_ne),
       |mq_dt AS (SELECT *, n*c00 + s1*c01 + s2*c02 AS det FROM mq_adj),
       |mq_wn AS (SELECT det, c00*sy + c01*s1y + c02*s2y AS w0n,
       |    c01*sy + c11*s1y + c12*s2y AS w1n,
       |    c02*sy + c12*s1y + c22*s2y AS w2n FROM mq_dt),
       |mq_wm AS (SELECT
       |    (CASE WHEN (w0n < 0) != (det < 0) THEN -1 ELSE 1 END)
       |      * ((abs(w0n)*1000000) // abs(det)) AS w0m,
       |    (CASE WHEN (w1n < 0) != (det < 0) THEN -1 ELSE 1 END)
       |      * ((abs(w1n)*1000000) // abs(det)) AS w1m,
       |    (CASE WHEN (w2n < 0) != (det < 0) THEN -1 ELSE 1 END)
       |      * ((abs(w2n)*1000000) // abs(det)) AS w2m FROM mq_wn),
       |scored AS (SELECT f.doc_id, f.n_words, f.n_distinct, f.y, f.is_seed,
       |    CAST(w0m + w1m*n_words + w2m*n_distinct AS BIGINT) AS score_micro,
       |    CAST(w0m + w1m*n_words + w2m*n_distinct AS BIGINT) >= 500000 AS keep
       |  FROM mq_f f, mq_wm)""".stripMargin

  /** Single-sourced corpus-drift SQL — grades BOTH the batch drift
    * report and its streaming twin (the new snapshot's counts
    * accumulated by the state store): the arrival engine must not
    * change the report. */
  private val CORPUS_DRIFT_SQL =
    s"""WITH w AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS word,
       |    CASE WHEN substr(md5(text), 1, 6) < '${graft.operators.Sampling.hashBound(0.5)}'
       |      THEN 0 ELSE 1 END AS nw
       |  FROM documents),
       |wc AS (SELECT word, CAST(sum(1 - nw) AS BIGINT) AS c_old,
       |    CAST(sum(nw) AS BIGINT) AS c_new
       |  FROM w GROUP BY 1),
       |tot AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
       |    CAST(sum(c_new) AS BIGINT) AS n_new FROM wc),
       |p AS (
       |  SELECT word, c_old, c_new,
       |    CAST((c_old * 1000000) // NULLIF(n_old, 0) AS BIGINT) AS p_old_ppm,
       |    CAST((c_new * 1000000) // NULLIF(n_new, 0) AS BIGINT) AS p_new_ppm
       |  FROM wc CROSS JOIN tot)
       |SELECT word, c_old, c_new, p_old_ppm, p_new_ppm,
       |  abs(p_old_ppm - p_new_ppm) AS drift_ppm
       |FROM p
       |ORDER BY drift_ppm DESC, word ASC
       |LIMIT 20""".stripMargin

  /** Single-sourced exact-dedup keep-list SQL — grades BOTH the
    * parquet-sourced streaming dedup (doc_dedup_exact_stream) and the
    * JSONL-staged streaming ingest (doc_ingest_jsonl_stream): the two
    * arrival paths must land on identical keep-lists. */
  private val EXACT_KEEP_SQL =
    """SELECT sha256(text) AS digest, min(doc_id) AS keep_id,
      |  count(*) AS n_copies, min(n_chars) AS n_chars
      |FROM documents GROUP BY sha256(text)""".stripMargin

  /** UNROLLED BPE training as a CTE chain — the SQL-oracle answer to
    * "the merge loop is iterative": the round count is a build-time
    * constant, so round r+1's dependence on round r is just CTE
    * chaining, no recursion needed. Produces `t0..tN` (the word table
    * after each merge; DuckDB's `string_split(w, '')` splits into CODE
    * POINTS = `codePointSymbols`) and `b1..bN` (each round's winning
    * pair by (freq DESC, left, right) — the exact Spark tie order).
    *
    * The greedy left-to-right non-overlapping apply is windowed, not
    * procedural: a position matches when (s, next) = (l, r); matches
    * can only be ADJACENT when l = r (overlap forces next = r = s = l),
    * so greedy-with-resume = "odd-offset positions within each
    * consecutive match run" — gaps-and-islands parity (`grp` by
    * i - row_number, `strt` by in-run parity), consumed = predecessor
    * started. (A merged token can never chain as the left of another
    * merge in the same round: the fold's last output l||r != l.)
    *
    * `AS MATERIALIZED` on t/b is load-bearing: t{r-1} and b{r} are
    * each referenced twice per round, and DuckDB 1.0 inlines
    * single-use CTEs — without it the plan duplicates the scan
    * exponentially through the chain. */
  private def bpeChainCtes(n: Int): String = {
    val rounds = (1 to n).map { r =>
      val p = r - 1
      s"""c$r AS (
         |  SELECT pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS f FROM (
         |    SELECT unnest([{'l': syms[i], 'r': syms[i+1]} for i in range(1, len(syms))]) AS pr, freq
         |    FROM t$p) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r, f FROM c$r ORDER BY f DESC, l ASC, r ASC LIMIT 1),
         |pos$r AS (
         |  SELECT wk, freq, u.i AS i, u.s AS s,
         |    lead(u.s) OVER (PARTITION BY wk ORDER BY u.i) AS ns
         |  FROM (SELECT wk, freq,
         |          unnest([{'i': i, 's': syms[i]} for i in range(1, len(syms)+1)]) AS u
         |        FROM t$p) q),
         |mt$r AS (
         |  SELECT *, coalesce(s = (SELECT l FROM b$r) AND ns = (SELECT r FROM b$r), FALSE) AS m
         |  FROM pos$r),
         |g$r AS (
         |  SELECT *, CASE WHEN m THEN i - row_number() OVER (PARTITION BY wk, m ORDER BY i) END AS grp
         |  FROM mt$r),
         |s$r AS (
         |  SELECT *, m AND (row_number() OVER (PARTITION BY wk, m, grp ORDER BY i) % 2 = 1) AS strt
         |  FROM g$r),
         |f$r AS (
         |  SELECT *, coalesce(lag(strt) OVER (PARTITION BY wk ORDER BY i), FALSE) AS consumed
         |  FROM s$r),
         |t$r AS MATERIALIZED (
         |  SELECT wk, freq, list(CASE WHEN strt THEN s || ns ELSE s END ORDER BY i) AS syms
         |  FROM f$r WHERE NOT consumed GROUP BY wk, freq)""".stripMargin
    }
    (s"""t0 AS MATERIALIZED (
        |  SELECT w AS wk, freq,
        |    CASE WHEN w = '' THEN []::VARCHAR[]
        |         ELSE string_split(w, '') END AS syms FROM (
        |    SELECT w, count(*) AS freq FROM (
        |      SELECT unnest(string_split(coalesce(lower(text), ''), ' ')) AS w FROM documents) u
        |    GROUP BY 1) v)""".stripMargin +: rounds).mkString(",\n")
  }

  /** Per-doc encode stats over [[bpeChainCtes]]' final table: tN's
    * syms ARE the rank-order greedy encoding of every distinct word
    * (training applies each merge as it is learned — identical to
    * encode's apply-in-rank-order). Empty words drop out of the chain
    * (no positions), hence LEFT JOIN + coalesce(0); null text is the
    * Spark side's one-empty-word document. */
  private val bpeEncodeCtes: String =
    s"""enc AS (SELECT wk, CAST(len(syms) AS BIGINT) AS n_tok FROM t$BpeMerges),
       |sym0 AS (SELECT wk, CAST(len(syms) AS BIGINT) AS n_s0 FROM t0),
       |dw AS (SELECT doc_id, unnest(string_split(coalesce(lower(text), ''), ' ')) AS w FROM documents),
       |stats AS (
       |  SELECT CAST(dw.doc_id AS BIGINT) AS doc_id,
       |    count(*) AS n_words,
       |    CAST(sum(coalesce(s.n_s0, 0)) AS BIGINT) AS n_sym0,
       |    CAST(sum(coalesce(e.n_tok, 0)) AS BIGINT) AS n_tokens
       |  FROM dw LEFT JOIN sym0 s ON dw.w = s.wk LEFT JOIN enc e ON dw.w = e.wk
       |  GROUP BY 1)""".stripMargin

  /** The suite's unigram-LM tokenizer configuration. */
  private val UniPieceLen = 4
  private val UniSeedSize = 64
  private val UniVocabSize = 24
  private val UniEmRounds = 2
  private val UniMaxWordLen = 12 // corpus max is 8; the unroll bound

  /** Unrolled unigram-LM training chain (the BPE-chain discipline:
    * fixed EM rounds + fixed max word length = chained CTEs, no
    * recursion). Replays [[graft.operators.TextAnalysis.unigramTrain]]
    * exactly: substring seeding, then per round a full Viterbi DP
    * unrolled position-by-position (per dp table the SAME local tie
    * rule `row_number() OVER (... ORDER BY score DESC, len(path) ASC,
    * path ASC)` the Scala fold applies), piece recount from best
    * paths, char re-admission at count 1, prune. Scores are integer
    * bit lengths — `length(to_base(x, 2))` — so every weight, score,
    * and tie is engine-exact. `tag` F is the final segmentation pass
    * the encode query consumes. */
  private def unigramDpCtes(tag: String, vocabIdx: Int): String = {
    val bl = s"ubl$tag"
    val wt = s"uwt$tag"
    val head =
      s"""$bl AS (SELECT CAST(length(to_base(CAST((SELECT sum(cnt) FROM uv$vocabIdx) AS BIGINT), 2)) AS BIGINT) AS bl),
         |$wt AS (SELECT piece, CAST(length(to_base(greatest(cnt, 1), 2)) AS BIGINT) AS bl FROM uv$vocabIdx),
         |udp${tag}_0 AS (SELECT wk, CAST(0 AS BIGINT) AS score, []::VARCHAR[] AS path FROM uw)""".stripMargin
    val dps = (1 to UniMaxWordLen).map { i =>
      val arms = (1 to math.min(UniPieceLen, i)).map { l =>
        s"""    SELECT d.wk, d.score + v.bl - b.bl AS score,
           |      list_append(d.path, substr(d.wk, ${i - l + 1}, $l)) AS path
           |    FROM udp${tag}_${i - l} d
           |    JOIN $wt v ON v.piece = substr(d.wk, ${i - l + 1}, $l)
           |    CROSS JOIN $bl b
           |    WHERE length(d.wk) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""udp${tag}_$i AS MATERIALIZED (SELECT wk, score, path FROM (
         |  SELECT wk, score, path, row_number() OVER (
         |    PARTITION BY wk ORDER BY score DESC, len(path) ASC, path ASC) AS rn
         |  FROM (
         |$arms) u) t WHERE rn = 1)""".stripMargin
    }
    val seg = (1 to UniMaxWordLen).map { i =>
      s"  SELECT d.wk, u.freq, d.path FROM udp${tag}_$i d JOIN uw u ON u.wk = d.wk AND length(u.wk) = $i"
    }.mkString("\n  UNION ALL\n")
    (head +: dps :+ s"useg$tag AS MATERIALIZED (\n$seg)").mkString(",\n")
  }

  /** The shared unigram CTE chain up to the final vocabulary
    * `uv$UniEmRounds`; `withFinalSeg` appends the F segmentation pass
    * for the encode oracle. */
  private def unigramCtes(withFinalSeg: Boolean): String = {
    val base =
      s"""uw AS MATERIALIZED (SELECT w AS wk, CAST(count(*) AS BIGINT) AS freq FROM (
         |  SELECT unnest(string_split(coalesce(lower(text), ''), ' ')) AS w FROM documents) u
         |  GROUP BY 1),
         |up1 AS (SELECT wk, freq, length(wk) AS n, unnest(range(0, length(wk))) AS i FROM uw),
         |up2 AS (SELECT wk, freq, n, i, unnest(range(1, least($UniPieceLen, n - i) + 1)) AS l FROM up1),
         |ucand0 AS (SELECT substr(wk, i + 1, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM up2 GROUP BY 1),
         |uchars AS (SELECT DISTINCT substr(wk, i + 1, 1) AS piece FROM up1),
         |uv0 AS MATERIALIZED (SELECT piece, cnt FROM (
         |  SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn FROM ucand0) t
         |  WHERE rn <= $UniSeedSize OR length(piece) = 1)""".stripMargin
    val rounds = (1 to UniEmRounds).map { r =>
      s"""${unigramDpCtes(r.toString, r - 1)},
         |ucnt$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest(path) AS piece FROM useg$r) q GROUP BY 1),
         |ucf$r AS (SELECT piece, cnt FROM ucnt$r UNION ALL
         |  SELECT c.piece, CAST(1 AS BIGINT) AS cnt FROM uchars c
         |  WHERE c.piece NOT IN (SELECT piece FROM ucnt$r)),
         |uv$r AS MATERIALIZED (SELECT piece, cnt FROM (
         |  SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn FROM ucf$r) t
         |  WHERE rn <= $UniVocabSize OR length(piece) = 1)""".stripMargin
    }
    val tail = if (withFinalSeg) Seq(unigramDpCtes("F", UniEmRounds)) else Seq.empty
    ((base +: rounds) ++ tail).mkString(",\n")
  }

  /** MinHash signature + pair CTE block under the PORTABLE md5-prefix
    * base hash, 32 perms / est >= 0.6 — produces `sig(doc_id, mh0..31)`
    * and `pairs(a_id, b_id, est_jaccard)`. The affine coefficients are
    * inlined as literals (the hyperplane-literal style). The oracle
    * needs NO banding: with est >= 0.6, at most 12 of 32 positions
    * mismatch, spoiling at most 12 of the 16 two-row bands, so >= 4
    * aligned bands match EXACTLY — every est-passing pair is an LSH
    * candidate by pigeonhole, and every candidate that fails est is
    * filtered on both sides. The LSH pair set IS the brute-force
    * est-threshold pair set (bucket-key hashing can only add
    * candidates, which the est filter then removes). */
  /** Per-pair equal-component count of two aliased `sig` rows. */
  private def minhashEqSum(a: String, b: String): String = (0 until 32)
    .map(i => s"CASE WHEN $a.mh$i = $b.mh$i THEN 1 ELSE 0 END")
    .mkString("\n      + ")

  /** The shared md5-prefix MinHash signature CTE chain — produces
    * `sig(doc_id, mh0..mh31)` over `documents` (single-sourced so the
    * pairs and incremental oracles cannot drift). */
  private val MINHASH_SIG_CTES: String = {
    val perms = 32
    val (as, bs) = Dedup.minhashCoefficients(perms)
    val sigCols = (0 until perms).map(i =>
      s"    list_min(list_transform(hs, h -> (${as(i)}*h + ${bs(i)}) % 2147483647)) AS mh$i")
      .mkString(",\n")
    s"""w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
       |shl AS (SELECT doc_id, list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shs
       |  FROM w WHERE len(ws) >= 3),
       |hl AS (SELECT doc_id, list_transform(shs,
       |    s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) & 2147483647) AS hs
       |  FROM shl),
       |sig AS (SELECT doc_id,
       |$sigCols
       |  FROM hl)""".stripMargin
  }

  private val MINHASH_PAIRS_CTES: String =
    s"""$MINHASH_SIG_CTES,
       |eqc AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    (${minhashEqSum("a", "b")}) AS eq
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id),
       |pairs AS (SELECT a_id, b_id, eq / 32.0 AS est_jaccard FROM eqc
       |  WHERE eq / 32.0 >= 0.6)""".stripMargin

  /** SimHash signature + pair CTE block under the portable md5-prefix
    * 64-bit word hash — produces `sig(doc_id, simhash)` and
    * `pairs(a_id, b_id, hamming)` for hamming <= 6. The 64-bit hash is
    * assembled from two 32-bit hex parses with an explicit sign fold
    * (BIGINT stays in range by construction); the signature is the
    * signed sum of per-bit powers with bit 63 contributing -2^63 —
    * exactly Scala's Long bit pattern. Brute-force pairs are EXACT
    * here too: C(8,2) chunk-pair banding is pigeonhole-lossless to
    * hamming 7, so the banded operator output equals all pairs within
    * the distance. */
  /** The shared SimHash signature chain — `ssig(doc_id, simhash)` over
    * `documents` (single-sourced for the pairs and incremental
    * oracles; named ssig to coexist with the MinHash `sig` chain in
    * one WITH clause). */
  private val SIMHASH_SIG_CTES: String =
    s"""w2 AS (SELECT doc_id, $SPLIT AS ws FROM documents
       |  WHERE text IS NOT NULL),
       |wd AS (SELECT doc_id, unnest(ws) AS word FROM w2),
       |wh AS (SELECT doc_id,
       |    (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
       |      * 4294967296 + lo AS h64
       |  FROM (SELECT doc_id,
       |      CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS hi,
       |      CAST(('0x' || substr(md5(word), 9, 8)) AS BIGINT) AS lo
       |    FROM wd) t),
       |bits AS (SELECT doc_id, bb.b AS b,
       |    sum(CASE WHEN ((h64 >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM wh CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
       |  GROUP BY 1, 2),
       |ssig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN
       |      CASE WHEN b = 63 THEN -9223372036854775807 - 1
       |      ELSE (CAST(1 AS BIGINT) << b) END ELSE 0 END) AS BIGINT)
       |    AS simhash
       |  FROM bits GROUP BY 1)""".stripMargin

  private val SIMHASH_PAIRS_CTES: String =
    s"""$SIMHASH_SIG_CTES,
       |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)""".stripMargin

  /** The min-reachable-id survivors tail shared by the three keep-list
    * oracles (Jaccard / MinHash / SimHash): recursive closure over an
    * undirected `pairs` edge list, component = min reachable id, every
    * document keeps iff it is its component's min (or off-graph). */
  private[queries] val SURVIVORS_TAIL =
    s"""edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach AS (SELECT src, dst FROM edges
       |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src)
       |SELECT d.doc_id, coalesce(c.component = d.doc_id, TRUE) AS keep,
       |  c.component
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin

  /** The QUALITY-KEEPER survivors tail ([[graft.operators.Dedup
    * .survivorsBest]] twin): same recursive min-reachable-id
    * components, but the kept doc per component is the BEST q_dm
    * (ties -> lowest id; null quality ranks -1, below every real
    * score) — requires the `scored` CTE (q_dm) in scope. */
  private[queries] val SURVIVORS_BEST_TAIL =
    s"""edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION SELECT b_id, a_id FROM pairs),
       |reach AS (SELECT src, dst FROM edges
       |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (SELECT src AS id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |rk AS (SELECT c.id, c.component,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY coalesce(s.q_dm, -1) DESC, c.id ASC) AS rn
       |  FROM comp c JOIN scored s ON s.doc_id = c.id),
       |el AS (SELECT component, id AS keep_id FROM rk WHERE rn = 1)
       |SELECT d.doc_id, coalesce(d.doc_id = e.keep_id, TRUE) AS keep,
       |  c.component, e.keep_id AS kept_by
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |LEFT JOIN el e ON e.component = c.component""".stripMargin

  /** The trigram-Jaccard pair CTE block (threshold 0.8), producing
    * `pairs(a_id, b_id, jaccard)` — single-sourced so the pair rule
    * cannot drift between the pairs query and the clusters query. */
  private val JACCARD_PAIRS_CTES =
    s"""w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
       |  FROM w WHERE len(ws) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT a_id, b_id,
       |    inter/(sa.sz + sb.sz - inter) AS jaccard FROM pr
       |  JOIN sizes sa ON sa.doc_id = a_id
       |  JOIN sizes sb ON sb.doc_id = b_id
       |  WHERE inter/(sa.sz + sb.sz - inter) >= 0.8)""".stripMargin

  /** The decontamination oracle (trigram shingles, >= 3 shared with the
    * doc_id%97 benchmark slice) — single-sourced because TWO Spark
    * paths (exact-set broadcast and Bloom-prefilter) must stay
    * output-identical to it by construction. */
  private val DECONTAMINATE_SQL =
    s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
       |  FROM w WHERE len(ws) >= 3),
       |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS n_shared
       |FROM sh JOIN bsh USING (s)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id HAVING count(*) >= 3""".stripMargin

  /** The quality-scoring subquery, producing
    * `scored(doc_id, lang, text, n_chars, n_words, n_punct, n_stop,
    * quality, q_dm)` — single-sourced for the same no-drift reason.
    *
    * `q_dm` is the EXACT integer decimicro quality: quality is the
    * rational num/(1000*n_chars*n_words) with
    * num = 4*min(100,w)*c*w + 300*(c-p)*w + 300*min(w,4*s)*c, so
    * round-half-up(quality*10000) = (20*num + c*w) // (2*c*w) — pure
    * BIGINT arithmetic, bit-identical in both engines. Queries that
    * sort or sum on quality use q_dm, never round(quality, 4): the
    * double round can land on a .XXXX5 boundary where Spark/DuckDB
    * rounding modes disagree (5 such docs exist at sf0.01).
    * Overflow-safe while 20000*c^2*w < 2^63 (c=n_chars, w=n_words
    * <= c), i.e. docs up to ~76M chars — far above any real document;
    * the Spark twin is [[graft.operators.TextAnalysis.qualityDecimicro]]. */
  private val QUALITY_SCORED_CTE =
    s"""scored AS (
       |  SELECT doc_id, lang, text, n_chars, n_words, n_punct, n_stop,
       |    CASE WHEN n_chars > 0 AND n_words > 0 THEN
       |      0.4 * least(1.0, n_words/100.0)
       |      + 0.3 * (1.0 - n_punct/n_chars)
       |      + 0.3 * least(1.0, 4.0*n_stop/n_words)
       |    ELSE NULL END AS quality,
       |    CASE WHEN n_chars > 0 AND n_words > 0 THEN
       |      (20*(4*least(100, n_words)*n_chars*n_words
       |        + 300*(n_chars - n_punct)*n_words
       |        + 300*least(n_words, 4*n_stop)*n_chars)
       |       + n_chars*n_words) // (2*n_chars*n_words)
       |    ELSE NULL END AS q_dm
       |  FROM (SELECT doc_id, lang, text, n_chars,
       |    len($SPLIT) AS n_words,
       |    len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct,
       |    len(list_filter($SPLIT, w -> w IN (${inList(TA.Stopwords)}))) AS n_stop
       |    FROM documents) b)""".stripMargin

  /** The Gopher filter battery (TextAnalysis.filterChain defaults) as
    * WITH-clause bodies over a source CTE `src(doc_id, t, ws)` —
    * single-sourced so the verdict rule cannot drift between
    * doc_filter_chain (augmented text) and the curate pipeline (raw
    * text). Produces `v(doc_id, n_words, quality, dup_frac,
    * top_word_frac, n_pii, reason)`. */
  private def filterBatterySql(src: String): String =
    s"""rep AS (
       |  SELECT doc_id, len(ws) AS n_words, greatest(len(ws)-2, 0) AS n_trigrams,
       |    CASE WHEN len(ws) >= 3 THEN len(list_distinct(list_transform(
       |      range(1, len(ws)-1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS n_distinct,
       |    list_max(list_transform(list_distinct(ws),
       |      x -> len(list_filter(ws, y -> y = x)))) AS top_word
       |  FROM $src),
       |st AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) > 0 AND len(ws) > 0 THEN
       |      0.4 * least(1.0, len(ws)/100.0)
       |      + 0.3 * (1.0 - len(regexp_extract_all(lower(t), '[^a-z0-9 ]'))/len(t))
       |      + 0.3 * least(1.0, 4.0*len(list_filter(ws,
       |          w -> w IN ('the','a','and','of','to','in','is')))/len(ws))
       |    END AS quality,
       |    len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}'))
       |      + len(regexp_extract_all(t, '\\+[0-9]{7,15}')) AS n_pii
       |  FROM $src),
       |j AS (
       |  SELECT r.doc_id, r.n_words,
       |    CASE WHEN r.n_trigrams > 0
       |      THEN round(1 - r.n_distinct/r.n_trigrams, 4) END AS dup_frac,
       |    CASE WHEN r.n_words > 0
       |      THEN round(r.top_word/r.n_words, 4) END AS top_word_frac,
       |    s.quality, s.n_pii
       |  FROM rep r JOIN st s USING (doc_id)),
       |v AS (
       |  SELECT *,
       |    CASE WHEN n_words < 12 THEN 'too_short'
       |         WHEN quality IS NULL OR quality < 0.45 THEN 'low_quality'
       |         WHEN dup_frac > 0.05 THEN 'repetitive'
       |         WHEN top_word_frac > 0.2 THEN 'top_word'
       |         WHEN n_pii > 0 THEN 'has_pii'
       |         ELSE 'keep' END AS reason
       |  FROM j)""".stripMargin

  /** The alpha=0.5 temperature-weight CTEs (Sampling
    * .temperatureWeightsMicros integer rule) over a source CTE
    * `src(lang)` — produces `w(lang, wm)` in micro-epochs.
    * Single-sourced between doc_temperature_mixture and the curate
    * pipeline. */
  private def temperatureCtes(src: String): String =
    s"""cnt AS (SELECT lang, count(*) AS n FROM $src GROUP BY 1),
       |sq AS (SELECT lang, n,
       |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r FROM cnt),
       |tot AS (SELECT CAST(sum(n) AS HUGEINT) AS nn,
       |    CAST(sum(r) AS HUGEINT) AS s FROM sq),
       |w AS (SELECT q.lang,
       |    CAST(least(CAST(1000000 AS HUGEINT) * t.nn * q.r // (t.s * q.n),
       |               CAST(10000000 AS HUGEINT)) AS BIGINT) AS wm
       |  FROM sq q CROSS JOIN tot t)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // Exact dedup keep-list: group by a sha2-256 digest of the content
    // (identical groups; the shuffle carries 32 B keys, not document
    // bodies). The oracle groups by text itself — same partition of
    // rows, so identical output.
    "doc_dedup_exact" -> QueryDef(
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |  min(n_chars) AS n_chars
        |FROM documents GROUP BY text""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("__k"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
          min(col("n_chars")).as("n_chars"))
        .drop("__k")
    },

    // Near-dup detection: exact word-trigram Jaccard >= 0.8 over a
    // shingle equi-join (the verification-grade path; LSH below is the
    // scale path that feeds it candidates).
    "doc_ngram_jaccard" -> QueryDef(
      s"""WITH $JACCARD_PAIRS_CTES
         |SELECT a_id, b_id, jaccard FROM pairs""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("text"),
        col("doc_id"), 3, 0.8)
    },

    // CONTAINMENT near-dup (quote/excerpt detection): C(A,B) =
    // shared/|S_A| over EVIDENCE shingles (df <= 64 — hotter shingles
    // are boilerplate, not quotation evidence, and the cap is also
    // what bounds the self-join's fanout). Pure integer counts, ppm by
    // floor division — the SQL replays the cap, the counts, and the
    // division token-for-token. Catches the short-inside-long shape
    // symmetric Jaccard structurally misses.
    "doc_containment_pairs" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w WHERE len(ws) >= 3),
         |ev AS (SELECT sh.doc_id, sh.s FROM sh JOIN (
         |    SELECT s FROM sh GROUP BY s HAVING count(*) <= 64) d USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM ev GROUP BY 1),
         |pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    count(*) AS shared
         |  FROM ev a JOIN ev b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, shared,
         |  CAST(shared * 1000000 // sa.sz AS BIGINT) AS cont_a_ppm,
         |  CAST(shared * 1000000 // sb.sz AS BIGINT) AS cont_b_ppm
         |FROM pr
         |JOIN sizes sa ON sa.doc_id = a_id
         |JOIN sizes sb ON sb.doc_id = b_id
         |WHERE greatest(shared * 1000000 // sa.sz,
         |  shared * 1000000 // sb.sz) >= 500000""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), col("text"),
        col("doc_id"), 3, maxDf = 64, minContPpm = 500000L)
    },

    // NOVELTY profile: per doc, the fraction of its distinct trigram
    // shingles owned first (min doc_id) — replicas score 0, fresh
    // content 1e6, syndication in between. The selection signal
    // between exact dedup and near-dup pair volume; min-owner rule +
    // integer ppm make it order-independent and exactly replayable.
    "doc_novelty" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w WHERE len(ws) >= 3),
         |f AS (SELECT s, min(doc_id) AS first_id FROM sh GROUP BY 1)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN sh.doc_id = f.first_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN sh.doc_id = f.first_id THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS novelty_ppm
         |FROM sh JOIN f USING (s)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.noveltyProfile(Tables.documents(s, dir), col("text"),
        col("doc_id"), 3)
    },

    // Streaming NOVELTY: the shingle first-owner table accumulates in
    // the state store (min/count per distinct shingle — RocksDB at
    // design time: shingle state is corpus-cardinality by definition),
    // and the per-doc tail joins the drained owners batch-side (the
    // corpus-drift composition). SAME single-sourced semantics as
    // doc_novelty: the arrival engine must not change the profile.
    "doc_novelty_stream" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w WHERE len(ws) >= 3),
         |f AS (SELECT s, min(doc_id) AS first_id FROM sh GROUP BY 1)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN sh.doc_id = f.first_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN sh.doc_id = f.first_id THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT) AS novelty_ppm
         |FROM sh JOIN f USING (s)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      // PLAIN drain, deliberately: a bucketed drain (removed; see
      // SCALE.md) was measured against this exact
      // query at 15M docs in a same-day three-way control (r11,
      // SCALE.md) and LOST — 1043s plain vs 1132s bucketed-unsorted
      // vs 1200s bucketed-sorted. For a drain whose owner table is
      // joined ONCE, the bucketed write's own overhead exceeds the
      // single saved join exchange; bucketing pays only when the
      // placement amortizes over repeated reads (the BucketedStore
      // incremental-index pattern, which keeps it).
      val owners = Streaming.runAvailableNow(
        Streaming.shingleOwnerStream(Streaming.documentsStream(s, dir),
          col("text"), col("doc_id"), 3),
        rocksdbState = true, // per-distinct-shingle state: corpus-sized
        // shard count derived from input size (corpusStateShards
        // scaladoc): no-op at scale, 8 shards at bench SF
        statePartitions = Streaming.corpusStateShards(s,
          s"$dir/documents.parquet"))
      val sh = Dedup.explodeShingles(Tables.documents(s, dir),
          col("text"), col("doc_id"), 3)
        .select(col("doc_id"), xxhash64(col("s")).as("s"))
      sh.join(owners, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("doc_id") === col("first_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("n_novel * 1000000 div n_shingles").as("novelty_ppm"))
    },

    // PADDING-WASTE report: for candidate context lengths, exact
    // truncation loss + pad overhead + utilization ppm under the
    // pad-to-max batch=1 model (the worst case packGreedy beats — the
    // sizing study run before choosing a context length). One
    // tokenizing scan, one tiny agg; all-integer sums and ppm.
    "doc_padding_report" -> QueryDef(
      """WITH t AS (SELECT CAST(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS tok FROM documents),
        |x AS (SELECT tok, unnest([128, 512, 2048]) AS seq_len FROM t)
        |SELECT CAST(seq_len AS BIGINT) AS seq_len, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN tok > seq_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated,
        |  CAST(sum(tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(greatest(tok - seq_len, 0)) AS BIGINT) AS tokens_lost,
        |  CAST(sum(seq_len - least(tok, seq_len)) AS BIGINT) AS pad_tokens,
        |  CAST((sum(tok) - sum(greatest(tok - seq_len, 0))) * 1000000
        |    // (count(*) * seq_len) AS BIGINT) AS util_ppm
        |FROM x GROUP BY seq_len""".stripMargin) { (s, dir) =>
      Sampling.paddingReport(Tables.documents(s, dir), col("text"),
        Seq(128L, 512L, 2048L))
    },

    // Near-dup CLUSTERS: connected components over the exact-Jaccard
    // pair graph — the step that turns pairs into dedup groups (keep
    // min id per component). Oracle: recursive min-reachable-id CTE
    // over the same pair set.
    "doc_dedup_clusters" -> QueryDef(
      s"""WITH RECURSIVE $JACCARD_PAIRS_CTES,
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS id, least(src, min(dst)) AS component
         |FROM reach GROUP BY src""".stripMargin) { (s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("text"),
          col("doc_id"), 3, 0.8))
    },

    // Large-star/small-star CC (Kiveris SoCC'14) under the same
    // recursive-CTE oracle, on a CHAIN-HEAVY graph: consecutive doc_ids
    // linked within each lang — one diameter-~n/5 chain per language,
    // the regime where min-label propagation needs O(diameter) rounds
    // and the star alternation needs O(log n). Exercises the scale
    // variant end-to-end where the driver can hash-check it.
    "doc_dedup_clusters_ls" -> QueryDef(
      s"""WITH RECURSIVE chain AS (
         |  SELECT lag(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) AS a_id,
         |    doc_id AS b_id
         |  FROM documents),
         |pairs AS (SELECT a_id, b_id FROM chain WHERE a_id IS NOT NULL),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach AS (SELECT src, dst FROM edges
         |  UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS id, least(src, min(dst)) AS component
         |FROM reach GROUP BY src""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      val pairs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"))
        .withColumn("a_id", lag(col("doc_id"), 1).over(w))
        .filter(col("a_id").isNotNull)
        .select(col("a_id"), col("doc_id").as("b_id"))
      Dedup.connectedComponentsLargeStar(pairs)
    },

    // Output-LINEAR survivor formulation (the 100 TB output shape —
    // SCALE.md): exact-Jaccard pairs -> connected components -> one
    // (doc_id, keep, component) row per document. Pair output is
    // quadratic in cluster sizes; the keep-list is linear in the corpus
    // regardless of dup density. Oracle: the same recursive
    // min-reachable-id CTE, left-joined back to every doc.
    "doc_dedup_survivors" -> QueryDef(
      s"""WITH RECURSIVE $JACCARD_PAIRS_CTES,
         |$SURVIVORS_TAIL""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        Dedup.survivors(docs, col("doc_id"),
          Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, 0.8))
    },

    // QUALITY-KEEPER election over the same pair graph: per near-dup
    // cluster keep the BEST-quality doc (exact integer decimicro
    // score, ties -> lowest id), not the lowest id — the election rule
    // production pipelines actually run. Oracle: the recursive CC
    // components + a per-component (q_dm DESC, id ASC) rank replay.
    "doc_dedup_survivors_best" -> QueryDef(
      s"""WITH RECURSIVE $JACCARD_PAIRS_CTES,
         |$QUALITY_SCORED_CTE,
         |$SURVIVORS_BEST_TAIL""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val scored = docs.select(col("doc_id"), col("text"),
            col("n_chars"),
            TA.wordCount(col("text")).as("n_words"),
            TA.punctCount(col("text")).as("n_punct"),
            TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
          .withColumn("q_dm",
            TA.qualityDecimicro(col("n_words"), col("n_punct"),
              col("n_chars"), col("n_stop")))
        Dedup.survivorsBest(scored, col("doc_id"), col("q_dm"),
          Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"), 3, 0.8))
    },

    // Same keep-list over the MinHash-LSH pair graph — the end-to-end
    // signature-dedup scale path (signatures -> band join -> CC ->
    // survivors), run under the portable md5-prefix hash so the whole
    // chain sits behind the driver's exact SQL compare.
    "doc_minhash_survivors" -> QueryDef(
      s"""WITH RECURSIVE $MINHASH_PAIRS_CTES,
         |$SURVIVORS_TAIL""".stripMargin) { (s, dir) =>
      Dedup.minhashSurvivors(Tables.documents(s, dir), col("text"),
        col("doc_id"), perms = 32, bands = 16, estThreshold = 0.6,
        baseHash = Dedup.Md5Prefix)
    },

    // SimHash keep-list twin (hamming <= 6 pair graph -> CC ->
    // survivors), same portable-hash discipline.
    "doc_simhash_survivors" -> QueryDef(
      s"""WITH RECURSIVE $SIMHASH_PAIRS_CTES,
         |$SURVIVORS_TAIL""".stripMargin) { (s, dir) =>
      Dedup.simhashSurvivors(Tables.documents(s, dir), col("text"),
        col("doc_id"), maxDist = 6, baseHash = Dedup.Md5Prefix)
    },

    // MinHash (32 perms) + LSH (16 bands x 2): candidate pairs with
    // estimated similarity >= 0.6 (~3 sigma below a true j=0.8 with 32
    // perms). Portable md5-prefix hash; the oracle is bandless brute
    // force — exact because est >= 0.6 forces >= 4 intact bands
    // (see MINHASH_PAIRS_CTES).
    "doc_minhash_lsh" -> QueryDef(
      s"""WITH $MINHASH_PAIRS_CTES
         |SELECT a_id, b_id, est_jaccard FROM pairs""".stripMargin) {
      (s, dir) =>
        val sigs = Dedup.minhashSignatures(Tables.documents(s, dir),
          col("text"), col("doc_id"), perms = 32, baseHash = Dedup.Md5Prefix)
        Dedup.minhashLshPairs(sigs, perms = 32, bands = 16, estThreshold = 0.6)
    },

    // SimHash near-dups: hamming <= 6 over chunk-pair bands (exact
    // coverage by pigeonhole), portable hash, brute-force oracle.
    // r13: IN-BUCKET form per the measured self-pair rule (text
    // populations are cap-dependent skewed — Dedup.simhashPairs
    // scaladoc / SCALE.md r13); the default cap cannot trip below
    // 4096 docs sharing a band value, so the brute oracle stays exact.
    "doc_simhash" -> QueryDef(
      s"""WITH $SIMHASH_PAIRS_CTES
         |SELECT a_id, b_id, hamming FROM pairs""".stripMargin) { (s, dir) =>
      val sigs = Dedup.simhash(Tables.documents(s, dir), col("text"),
        col("doc_id"), baseHash = Dedup.Md5Prefix)
      Dedup.simhashPairsBucketed(sigs, maxDist = 6)
    },

    // Streaming twin of doc_dedup_exact under the driver's EXACT
    // compare: the keep-list aggregation executed by the STREAMING
    // engine — file source -> stateful streaming aggregation (state
    // store) -> memory sink, Trigger.AvailableNow — then returned as a
    // batch frame. min/count are order-independent, so the result is
    // deterministic under any micro-batch slicing; the oracle is the
    // plain batch group-by (sha256 digests exist in both engines).
    "doc_dedup_exact_stream" -> QueryDef(EXACT_KEEP_SQL) { (s, dir) =>
      Streaming.runAvailableNow(
        Streaming.exactDedupKeepListStream(
          Streaming.documentsStream(s, dir),
          col("text"), col("doc_id"), col("n_chars")),
        rocksdbState = true, // digest-cardinality state: corpus-sized
        statePartitions = Streaming.corpusStateShards(s,
          s"$dir/documents.parquet"))
    },

    // JSONL INGEST-TIME dedup on the STREAMING engine: the corpus is
    // staged as JSON-lines (multiple files -> multiple micro-batch
    // admissions), stream-read through the schema'd permissive JSONL
    // source (Streaming.jsonlStream, quarantine column dropped on the
    // clean path), and exact-deduped via the keep-list aggregation —
    // the arrival path of a continuously-crawled corpus end-to-end.
    // SAME single-sourced oracle as doc_dedup_exact_stream: the staged
    // JSONL is a lossless projection of `documents`, so the two
    // engines' results must coincide row-for-row.
    "doc_ingest_jsonl_stream" -> QueryDef(EXACT_KEEP_SQL) { (s, dir) =>
      import org.apache.spark.sql.types._
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_s").toString
      Tables.documents(s, dir).select("doc_id", "text", "n_chars")
        .repartition(4)
        .write.mode("overwrite").json(s"$tmp/raw")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("n_chars", LongType)))
      val stream = Streaming.jsonlStream(s, s"$tmp/raw", schema)
        .filter(col("_corrupt_record").isNull)
      Streaming.runAvailableNow(
        Streaming.exactDedupKeepListStream(stream,
          col("text"), col("doc_id"), col("n_chars")),
        rocksdbState = true, // digest-cardinality state: corpus-sized
        statePartitions = Streaming.corpusStateShards(s, s"$tmp/raw"))
    },

    // Streaming twin of doc_para_dedup's keeper election: documents
    // stream in, are chunked statelessly per row, and every distinct
    // passage's keeper (lexicographic min (doc_id, idx) struct) + copy count
    // accumulate in the state store — the ingest-time boilerplate
    // dedup. Same AvailableNow drain + order-independent agg
    // discipline as doc_dedup_exact_stream; the oracle replays the
    // chunking and the min in SQL.
    "doc_para_dedup_stream" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |s AS (SELECT doc_id, ws, len(ws) AS n,
         |  unnest(range(0, (len(ws)-1)//20 + 1)) AS i FROM w),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |  array_to_string(list_slice(ws, i*20 + 1, least(i*20 + 20, n)), ' ') AS chunk
         |  FROM s)
         |SELECT digest, doc_id AS keep_doc_id, chunk_idx AS keep_idx,
         |  n_copies
         |FROM (SELECT sha256(chunk) AS digest, doc_id, chunk_idx,
         |    row_number() OVER (PARTITION BY sha256(chunk)
         |      ORDER BY doc_id, chunk_idx) AS rn,
         |    count(*) OVER (PARTITION BY sha256(chunk)) AS n_copies
         |  FROM ch) r
         |WHERE rn = 1""".stripMargin) { (s, dir) =>
      Streaming.runAvailableNow(
        Streaming.paragraphKeepListStream(
          Streaming.documentsStream(s, dir),
          col("text"), col("doc_id"), size = 20),
        rocksdbState = true, // passage-cardinality state: corpus-sized
        statePartitions = Streaming.corpusStateShards(s,
          s"$dir/documents.parquet"))
    },

    // Streaming MinHash near-dup dedup, driver-visible: the fMGWS
    // band-bucket engine (Streaming.minhashDedupStream) drained with
    // AvailableNow, band verdicts collapsed to one (doc_id, dup_of) row
    // per signature-bearing doc — dup_of = smallest earlier doc whose
    // signature matches in any shared band, null for survivors. Event
    // time is doc_id-derived (earlier = smaller id), watermark delay >
    // the whole id range so nothing evicts mid-replay. Portable
    // md5-prefix hash -> the SQL oracle folds the brute-force pair set
    // to min(a_id) per b_id (exact: est >= 0.6 pairs ALWAYS share an
    // aligned band, and bucket collisions only add est-filtered
    // candidates).
    "doc_minhash_stream" -> QueryDef(
      s"""WITH $MINHASH_PAIRS_CTES,
         |m AS (SELECT b_id, min(a_id) AS dup_of FROM pairs GROUP BY 1)
         |SELECT s.doc_id, m.dup_of
         |FROM sig s LEFT JOIN m ON s.doc_id = m.b_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val docs = Streaming.documentsStream(s, dir)
          .select(col("doc_id").as("docId"),
            ((col("doc_id") + 1) * 1000000L).as("tsUs"), col("text"))
          .as[Streaming.DocEvent]
        val verdicts = Streaming.minhashDedupStream(docs, perms = 32,
          bands = 16, estThreshold = 0.6, watermarkDelayMs = 31536000000L,
          baseHash = Dedup.Md5Prefix)
        Streaming.collapseNearDupVerdicts(
            Streaming.runAvailableNow(verdicts.toDF(),
              rocksdbState = true, // band-bucket state: corpus-sized
              statePartitions = Streaming.corpusStateShards(s,
                s"$dir/documents.parquet")))
          .select(col("docId").as("doc_id"), col("dup_of"))
    },

    // Streaming SimHash near-dup twin, same harness: C(8,2) chunk-pair
    // band buckets in keyed state, dup_of = smallest earlier doc within
    // hamming 6 (banding is pigeonhole-exact there, so the expected
    // frame is ALL pairs within the distance — same min-fold oracle).
    "doc_simhash_stream" -> QueryDef(
      s"""WITH $SIMHASH_PAIRS_CTES,
         |m AS (SELECT b_id, min(a_id) AS dup_of FROM pairs GROUP BY 1)
         |SELECT s.doc_id, m.dup_of
         |FROM ssig s LEFT JOIN m ON s.doc_id = m.b_id""".stripMargin) {
      (s, dir) =>
        import s.implicits._
        val docs = Streaming.documentsStream(s, dir)
          .select(col("doc_id").as("docId"),
            ((col("doc_id") + 1) * 1000000L).as("tsUs"), col("text"))
          .as[Streaming.DocEvent]
        val verdicts = Streaming.simhashDedupStream(docs, maxDist = 6,
          watermarkDelayMs = 31536000000L, baseHash = Dedup.Md5Prefix)
        Streaming.collapseNearDupVerdicts(
            Streaming.runAvailableNow(verdicts.toDF(),
              rocksdbState = true, // band-bucket state: corpus-sized
              statePartitions = Streaming.corpusStateShards(s,
                s"$dir/documents.parquet")))
          .select(col("docId").as("doc_id"), col("dup_of"))
    },

    // Language-ID heuristic: marker-word counts, fixed precedence.
    "doc_langid" -> QueryDef(
      s"""SELECT doc_id, c_en, c_de, c_fr, c_es,
         |  CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
         |       WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
         |       WHEN c_fr >= c_es THEN 'fr'
         |       ELSE 'es' END AS predicted,
         |  lang AS actual
         |FROM (SELECT doc_id, lang,
         |  len(list_filter($SPLIT, w -> w IN (${inList(TA.EnMarkers)}))) AS c_en,
         |  len(list_filter($SPLIT, w -> w IN (${inList(TA.DeMarkers)}))) AS c_de,
         |  len(list_filter($SPLIT, w -> w IN (${inList(TA.FrMarkers)}))) AS c_fr,
         |  len(list_filter($SPLIT, w -> w IN (${inList(TA.EsMarkers)}))) AS c_es
         |  FROM documents) t""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TA.markerCount(col("text"), TA.EnMarkers).as("c_en"),
          TA.markerCount(col("text"), TA.DeMarkers).as("c_de"),
          TA.markerCount(col("text"), TA.FrMarkers).as("c_fr"),
          TA.markerCount(col("text"), TA.EsMarkers).as("c_es"),
          col("lang").as("actual"))
        .withColumn("predicted",
          TA.langId(col("c_en"), col("c_de"), col("c_fr"), col("c_es")))
        .select("doc_id", "c_en", "c_de", "c_fr", "c_es", "predicted", "actual")
    },

    // Quality scoring: saturating length/cleanliness/stopword mix.
    "doc_quality" -> QueryDef(
      s"""WITH $QUALITY_SCORED_CTE
         |SELECT doc_id, n_chars, n_words, n_punct, n_stop, quality
         |FROM scored""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          TA.wordCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
        .withColumn("quality",
          TA.qualityScore(col("n_words"), col("n_punct"), col("n_chars"),
            col("n_stop")))
    },

    // Token counting: BPE-ish pre-tokenizer regex.
    "doc_token_count" -> QueryDef(
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens,
        |  len(string_split(lower(text), ' ')) AS n_words,
        |  n_chars/NULLIF(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 0)
        |    AS chars_per_token
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.wordCount(col("text")).as("n_words"),
          (col("n_chars") / nullif(TA.tokenCount(col("text")), lit(0)))
            .as("chars_per_token")) // empty doc: NULL, not ANSI /0
    },

    // Vocabulary building: top-20 tokens by document frequency,
    // deterministic tie order.
    "doc_vocab_topk" -> QueryDef(
      s"""SELECT word, df, rnk FROM (
         |  SELECT word, count(DISTINCT doc_id) AS df,
         |    row_number() OVER (
         |      ORDER BY count(DISTINCT doc_id) DESC, word) AS rnk
         |  FROM (SELECT doc_id, unnest($SPLIT) AS word FROM documents) t
         |  GROUP BY word) r
         |WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      TA.vocabTopK(Tables.documents(s, dir), col("text"), col("doc_id"), 20)
    },

    // Per-doc top-3 tokens by rational tf-idf (tf*N/df — one exact
    // integer division; ln-based idf would hit libm differences).
    // Vocabulary size per language, HLL++ next to exact — the second
    // sketch under the bound-validation oracle pattern (the GK
    // quantile twin is the first): Spark checks its own sketch against
    // the exact count in one job and emits (lang, within_bound); the
    // oracle reproduces the all-true frame from exact counts alone.
    "doc_vocab_size_approx" -> QueryDef(
      """SELECT lang, TRUE AS within_bound
        |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
      TA.vocabSizeApprox(Tables.documents(s, dir), col("text"),
          col("lang"), rsd = 0.05)
        .select(col("grp").as("lang"), col("within_bound"))
    },

    "doc_tfidf_topk" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, unnest($SPLIT) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, word, tf, df, score, rnk FROM (
         |  SELECT t.doc_id, t.word, t.tf, d.df, t.tf * nn.n / d.df AS score,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY t.tf * nn.n / d.df DESC, t.word) AS rnk
         |  FROM tf t JOIN dfq d USING (word) CROSS JOIN nn) s
         |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      TA.tfidfTopK(Tables.documents(s, dir), col("text"), col("doc_id"), 3)
    },

    // Exact-substring duplicate mass via content-defined anchors:
    // anchor where the 8-char polynomial hash (seeded fold a*31+b,
    // no modulus — exact Int64 both engines) is 0 mod 32; 40-char
    // windows at anchors, dup = window text seen >= 2x corpus-wide.
    // Alignment-robust (identical content -> identical anchors),
    // output-linear per-doc stats.
    "doc_substr_dups" -> QueryDef(
      """WITH anch AS (
        |  SELECT doc_id, pos, substr(text, pos, 40) AS win FROM (
        |    SELECT doc_id, text,
        |      unnest(generate_series(1, greatest(length(text) - 39, 0))) AS pos
        |    FROM documents)
        |  WHERE list_reduce(list_transform(
        |      string_split(substr(text, pos, 8), ''),
        |      c -> CAST(unicode(c) AS BIGINT)), (a, b) -> a*31 + b) % 32 = 0),
        |dup AS (
        |  SELECT sha256(win) AS h FROM anch GROUP BY 1 HAVING count(*) >= 2)
        |SELECT a.doc_id, count(*) AS n_anchors,
        |  CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_anchors
        |FROM anch a LEFT JOIN dup d ON sha256(a.win) = d.h
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Dedup.substrDupStats(Tables.documents(s, dir), col("text"), col("doc_id"))
    },

    // Count-Min-Sketch heavy hitters next to the exact counts: the
    // bound-validation twin (HLL/GK pattern). The oracle reproduces the
    // all-true frame from exact counts alone; the Spark side actually
    // builds and queries the distributed sketch.
    "doc_heavy_hitters_cms" -> QueryDef(
      s"""WITH w AS (SELECT unnest($SPLIT) AS word FROM documents),
         |cnts AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1)
         |SELECT word, cnt, rnk, TRUE AS within_bound FROM (
         |  SELECT word, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, word) AS rnk
         |  FROM cnts) s
         |WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      TA.heavyHittersCms(Tables.documents(s, dir), col("text"), 20)
    },

    // The standard filter battery as ONE verdict query: keep/drop +
    // the first failing rule under fixed precedence (too_short ->
    // low_quality -> repetitive -> top_word -> has_pii). Docs with
    // doc_id % 7 == 0 get the synthetic PII augmentation (the
    // doc_pii_scrub trick) so the PII rule is non-vacuous.
    "doc_filter_chain" -> QueryDef(
      s"""WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact user'
        |      || CAST(doc_id AS VARCHAR) || '@corp.example call +1202555'
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0')
        |    ELSE text END AS t
        |  FROM documents),
        |b AS (SELECT doc_id, t, string_split(lower(t), ' ') AS ws FROM aug),
        |${filterBatterySql("b")}
        |SELECT doc_id, n_words, quality, dup_frac,
        |  top_word_frac, n_pii, reason = 'keep' AS keep, reason
        |FROM v""".stripMargin) { (s, dir) =>
      val aug = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@corp.example call +1202555"),
          lpad((col("doc_id") % 1000).cast("string"), 4, "0")))
        .otherwise(col("text"))
      TA.filterChain(Tables.documents(s, dir).select(col("doc_id"),
        aug.as("t")), col("t"), col("doc_id"))
    },

    // Corpus health report: the per-source curation dashboard — doc /
    // token / distinct-lang counts, mean quality (integer-decimicro
    // sum, one final round), and exact-dup doc share (global digest
    // counts joined back). All-exact aggregates over one scan + one
    // digest self-aggregation.
    "doc_corpus_report" -> QueryDef(
      s"""WITH $QUALITY_SCORED_CTE,
         |dups AS (
         |  SELECT sha256(text) AS digest, count(*) AS copies
         |  FROM documents GROUP BY 1)
         |SELECT s.source,
         |  count(*) AS docs,
         |  CAST(sum(s.n_words) AS BIGINT) AS tokens,
         |  count(DISTINCT s.lang) AS langs,
         |  round(CAST(sum(s.q_dm) AS BIGINT) / count(*) / 10000.0, 4)
         |    AS mean_quality,
         |  CAST(sum(CASE WHEN d.copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
         |FROM (SELECT d0.source, sc.lang, sc.text, sc.n_words, sc.q_dm
         |  FROM scored sc JOIN documents d0 USING (doc_id)) s
         |JOIN dups d ON sha256(s.text) = d.digest
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("source"), col("lang"), col("text"),
          col("n_chars"),
          TA.wordCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
        .withColumn("q_dm",
          TA.qualityDecimicro(col("n_words"), col("n_punct"), col("n_chars"),
            col("n_stop")))
      val dups = docs.groupBy(sha2(col("text"), 256).as("digest"))
        .agg(count(lit(1)).as("copies"))
      scored.join(dups, sha2(col("text"), 256) === dups("digest"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum("n_words").as("tokens"),
          count_distinct(col("lang")).as("langs"),
          round(sum(col("q_dm"))
            / count(lit(1)) / lit(10000.0), 4).as("mean_quality"),
          sum(when(col("copies") > 1, 1L).otherwise(0L)).as("dup_docs"))
    },

    // Inverted-index postings for the 20 highest-df words, first 3
    // postings each (doc_id order) — the index-construction step
    // behind BM25; exploded rows, never array cells.
    "doc_postings" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, unnest($SPLIT) AS word FROM documents),
         |tf AS (SELECT word, doc_id, count(*) AS tf FROM w GROUP BY 1, 2),
         |tw AS (SELECT word, count(*) AS df FROM tf GROUP BY 1
         |  ORDER BY df DESC, word LIMIT 20)
         |SELECT word, df, posting_rank, doc_id, tf FROM (
         |  SELECT tf.word, tw.df, tf.doc_id, tf.tf,
         |    row_number() OVER (PARTITION BY tf.word
         |      ORDER BY tf.doc_id) AS posting_rank
         |  FROM tf JOIN tw USING (word)) s
         |WHERE posting_rank <= 3""".stripMargin) { (s, dir) =>
      TA.postingLists(Tables.documents(s, dir), col("text"), col("doc_id"),
        kWords = 20, kPostings = 3)
    },

    // Streaming heavy hitters: per-word counters accumulate in the
    // STATE STORE across micro-batches (AvailableNow drain), then the
    // drained frame ranks top-20 batch-side via TakeOrdered. Oracle =
    // the exact batch counts — the Spark side actually runs the
    // streaming engine.
    "doc_heavy_hitters_stream" -> QueryDef(
      s"""WITH w AS (SELECT unnest($SPLIT) AS word FROM documents),
         |cnts AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1)
         |SELECT word, cnt, rnk FROM (
         |  SELECT word, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, word) AS rnk
         |  FROM cnts) s
         |WHERE rnk <= 20""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Streaming.runAvailableNow(
        Streaming.vocabCountStream(Streaming.documentsStream(s, dir),
          col("text")),
        // distinct-word state is vocabulary-sized, and web-corpus
        // vocabulary GROWS with the corpus (heaps-law; the dup-probe's
        // positional markers make it corpus-linear outright) — the
        // corpus-cardinality rule routes it through RocksDB
        rocksdbState = true,
        statePartitions = Streaming.corpusStateShards(s,
          s"$dir/documents.parquet"))
      counts.orderBy(col("cnt").desc, col("word").asc).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("word").asc)))
    },

    // BM25 retrieval over three fixed multi-term queries: rational idf
    // (no ln), per-term integer-micro rounding before the per-doc sum
    // (order-independent), total ranking key. The SQL mirrors the Spark
    // arithmetic token-for-token — identical IEEE trees, identical
    // doubles, exact hash compare.
    "doc_bm25_topk" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, unnest($SPLIT) AS word FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |nt AS (SELECT (SELECT count(*) FROM documents) AS n,
         |              (SELECT count(*) FROM w) AS t),
         |q(query_id, word) AS (VALUES
         |  (0, 'hash'), (0, 'join'), (0, 'order'),
         |  (1, 'vector'), (1, 'scan'), (1, 'filter'),
         |  (2, 'slow'), (2, 'merge'), (2, 'batch'), (2, 'data')),
         |term AS (
         |  SELECT q.query_id, t.doc_id,
         |    round((nt.n - d.df + 0.5) / (d.df + 0.5)
         |      * (t.tf * 2.2)
         |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl * nt.n / nt.t))
         |      * 1000000.0) AS micros
         |  FROM tf t JOIN q ON t.word = q.word
         |    JOIN dfq d ON t.word = d.word
         |    JOIN dl l ON t.doc_id = l.doc_id
         |    CROSS JOIN nt),
         |scored AS (
         |  SELECT query_id, doc_id,
         |    CAST(sum(micros) AS BIGINT) AS score_micros,
         |    count(*) AS terms_hit
         |  FROM term GROUP BY 1, 2)
         |SELECT query_id, doc_id, score_micros, terms_hit, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_micros DESC, doc_id) AS rnk
         |  FROM scored) s
         |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      TA.bm25TopK(Tables.documents(s, dir), col("text"), col("doc_id"),
        Seq(0 -> "hash join order", 1 -> "vector scan filter",
          2 -> "slow merge batch data"), 5)
    },

    // Incremental dedup: a ~37% "new batch" (doc-id hash split — so
    // exact copies straddle the boundary) dedups against the other
    // ~63%'s digest index. keep = absent from the index AND the
    // min-id winner within the batch.
    "doc_dedup_incremental" -> QueryDef(
      """WITH oldd AS (
        |  SELECT sha256(text) AS digest FROM documents
        |  WHERE substr(md5(doc_id::VARCHAR), 1, 1) < 'a'),
        |newd AS (
        |  SELECT doc_id, sha256(text) AS digest FROM documents
        |  WHERE substr(md5(doc_id::VARCHAR), 1, 1) >= 'a'),
        |idx AS (SELECT DISTINCT digest FROM oldd),
        |keeper AS (SELECT digest, min(doc_id) AS keep_id
        |  FROM newd GROUP BY 1)
        |SELECT n.doc_id, n.digest,
        |  (i.digest IS NOT NULL) AS dup_of_index,
        |  (i.digest IS NULL AND n.doc_id = kp.keep_id) AS keep
        |FROM newd n
        |LEFT JOIN idx i ON n.digest = i.digest
        |JOIN keeper kp ON n.digest = kp.digest""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val side = substring(md5(col("doc_id").cast("string")), 1, 1)
      val index = docs.filter(side < "a")
        .select(sha2(col("text"), 256).as("digest"))
      Dedup.incrementalDedup(docs.filter(side >= "a"), col("text"),
        col("doc_id"), index)
    },

    // INCREMENTAL NEAR-dup: the MinHash twin of doc_dedup_incremental —
    // each new doc checked against an already-accepted signature index
    // AND against earlier (smaller-id) batch mates. The Spark side runs
    // the banded join; the oracle compares estimates over ALL pairs with
    // no banding — legal because 32/16/0.6 banding is pigeonhole-exact
    // (<= 12 unequal components cannot break all 16 bands). Docs too
    // short to sign keep unconditionally on both sides.
    "doc_dedup_incremental_near" -> QueryDef(
      s"""WITH $MINHASH_SIG_CTES,
         |side AS (SELECT doc_id,
         |    substr(md5(doc_id::VARCHAR), 1, 1) < 'a' AS is_idx
         |  FROM documents),
         |isig AS (SELECT s.* FROM sig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |bsig AS (SELECT s.* FROM sig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE NOT side.is_idx),
         |di AS (SELECT DISTINCT b.doc_id FROM bsig b JOIN isig a
         |  ON (${minhashEqSum("a", "b")}) / 32.0 >= 0.6),
         |db AS (SELECT DISTINCT b.doc_id FROM bsig b JOIN bsig a
         |  ON a.doc_id < b.doc_id
         |  AND (${minhashEqSum("a", "b")}) / 32.0 >= 0.6)
         |SELECT d.doc_id,
         |  d.doc_id IN (SELECT doc_id FROM di) AS dup_of_index,
         |  d.doc_id IN (SELECT doc_id FROM db) AS dup_of_batch_earlier,
         |  d.doc_id NOT IN (SELECT doc_id FROM di)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM db) AS keep
         |FROM documents d JOIN side ON d.doc_id = side.doc_id
         |WHERE NOT side.is_idx""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val side = substring(md5(col("doc_id").cast("string")), 1, 1)
      val indexSigs = Dedup.minhashSignatures(docs.filter(side < "a"),
        col("text"), col("doc_id"), perms = 32, shingleN = 3,
        baseHash = Dedup.Md5Prefix)
      Dedup.incrementalNearDup(docs.filter(side >= "a"), col("text"),
        col("doc_id"), indexSigs, perms = 32, bands = 16,
        estThreshold = 0.6, baseHash = Dedup.Md5Prefix)
    },

    // The SIMHASH incremental twin: same verdict shape over hamming
    // distance — chunk-pair banding is pigeonhole-exact to hamming 6,
    // so the oracle again compares ALL pairs with no banding replay.
    // Signatures ride the band rows (no signature re-join), and the
    // banded index table (simhashChunks) is the bucket-store unit.
    "doc_dedup_incremental_simhash" -> QueryDef(
      s"""WITH $SIMHASH_SIG_CTES,
         |side AS (SELECT doc_id,
         |    substr(md5(doc_id::VARCHAR), 1, 1) < 'a' AS is_idx
         |  FROM documents),
         |hi2 AS (SELECT s.* FROM ssig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |hb2 AS (SELECT s.* FROM ssig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE NOT side.is_idx),
         |sdi AS (SELECT DISTINCT b.doc_id FROM hb2 b JOIN hi2 a
         |  ON bit_count(xor(a.simhash, b.simhash)) <= 6),
         |sdb AS (SELECT DISTINCT b.doc_id FROM hb2 b JOIN hb2 a
         |  ON a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash, b.simhash)) <= 6)
         |SELECT d.doc_id,
         |  d.doc_id IN (SELECT doc_id FROM sdi) AS dup_of_index,
         |  d.doc_id IN (SELECT doc_id FROM sdb) AS dup_of_batch_earlier,
         |  d.doc_id NOT IN (SELECT doc_id FROM sdi)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM sdb) AS keep
         |FROM documents d JOIN side ON d.doc_id = side.doc_id
         |WHERE NOT side.is_idx""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val side = substring(md5(col("doc_id").cast("string")), 1, 1)
      val indexSigs = Dedup.simhash(docs.filter(side < "a"), col("text"),
        col("doc_id"), baseHash = Dedup.Md5Prefix)
      Dedup.incrementalNearDupSimhash(docs.filter(side >= "a"), col("text"),
        col("doc_id"), indexSigs, maxDist = 6, baseHash = Dedup.Md5Prefix)
    },

    // DEDUP AUDIT: the agreement matrix of the three incremental
    // verdict families over the same batch/index split — how many docs
    // each combination of (exact, minhash-est, simhash-hamming) flags.
    // The production use is drift monitoring: exact misses near-dups
    // by definition, so a batch where minhash and exact flag the SAME
    // set is suspicious (template corpus), and a doc flagged by exact
    // but not the signatures is a hash-quality alarm. Oracle chains
    // the three families' single-sourced CTEs.
    "doc_dedup_verdict_report" -> QueryDef(
      s"""WITH $MINHASH_SIG_CTES,
         |$SIMHASH_SIG_CTES,
         |side AS (SELECT doc_id,
         |    substr(md5(doc_id::VARCHAR), 1, 1) < 'a' AS is_idx
         |  FROM documents),
         |oldd AS (SELECT sha256(text) AS digest
         |  FROM documents d JOIN side ON d.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |newd AS (SELECT d.doc_id, sha256(text) AS digest
         |  FROM documents d JOIN side ON d.doc_id = side.doc_id
         |  WHERE NOT side.is_idx),
         |ekeep AS (SELECT n.doc_id FROM newd n
         |  LEFT JOIN (SELECT DISTINCT digest FROM oldd) i ON n.digest = i.digest
         |  JOIN (SELECT digest, min(doc_id) AS keep_id FROM newd GROUP BY 1) kp
         |    ON n.digest = kp.digest
         |  WHERE i.digest IS NULL AND n.doc_id = kp.keep_id),
         |isig AS (SELECT s.* FROM sig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |bsig AS (SELECT s.* FROM sig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE NOT side.is_idx),
         |mdup AS (SELECT DISTINCT b.doc_id FROM bsig b JOIN isig a
         |    ON (${minhashEqSum("a", "b")}) / 32.0 >= 0.6
         |  UNION SELECT DISTINCT b.doc_id FROM bsig b JOIN bsig a
         |    ON a.doc_id < b.doc_id
         |    AND (${minhashEqSum("a", "b")}) / 32.0 >= 0.6),
         |hi2 AS (SELECT s.* FROM ssig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |hb2 AS (SELECT s.* FROM ssig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE NOT side.is_idx),
         |sdup AS (SELECT DISTINCT b.doc_id FROM hb2 b JOIN hi2 a
         |    ON bit_count(xor(a.simhash, b.simhash)) <= 6
         |  UNION SELECT DISTINCT b.doc_id FROM hb2 b JOIN hb2 a
         |    ON a.doc_id < b.doc_id
         |    AND bit_count(xor(a.simhash, b.simhash)) <= 6)
         |SELECT e_dup, m_dup, s_dup, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT d.doc_id,
         |    d.doc_id NOT IN (SELECT doc_id FROM ekeep) AS e_dup,
         |    d.doc_id IN (SELECT doc_id FROM mdup) AS m_dup,
         |    d.doc_id IN (SELECT doc_id FROM sdup) AS s_dup
         |  FROM documents d JOIN side ON d.doc_id = side.doc_id
         |  WHERE NOT side.is_idx) v
         |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val side = substring(md5(col("doc_id").cast("string")), 1, 1)
      val idxDocs = docs.filter(side < "a")
      val batch = docs.filter(side >= "a")
      val exact = Dedup.incrementalDedup(batch, col("text"), col("doc_id"),
          idxDocs.select(sha2(col("text"), 256).as("digest")))
        .select(col("doc_id"), (!col("keep")).as("e_dup"))
      val mh = Dedup.incrementalNearDup(batch, col("text"), col("doc_id"),
          Dedup.minhashSignatures(idxDocs, col("text"), col("doc_id"),
            perms = 32, shingleN = 3, baseHash = Dedup.Md5Prefix),
          perms = 32, bands = 16, estThreshold = 0.6,
          baseHash = Dedup.Md5Prefix)
        .select(col("doc_id"),
          (col("dup_of_index") || col("dup_of_batch_earlier")).as("m_dup"))
      val sh = Dedup.incrementalNearDupSimhash(batch, col("text"),
          col("doc_id"),
          Dedup.simhash(idxDocs, col("text"), col("doc_id"),
            baseHash = Dedup.Md5Prefix),
          maxDist = 6, baseHash = Dedup.Md5Prefix)
        .select(col("doc_id"),
          (col("dup_of_index") || col("dup_of_batch_earlier")).as("s_dup"))
      exact.join(mh, "doc_id").join(sh, "doc_id")
        .groupBy("e_dup", "m_dup", "s_dup")
        .agg(count(lit(1)).as("n"))
    },

    // COMPOSED ingest-time curation: exact incremental dedup vs index
    // -> incremental NEAR-dup (MinHash) among the exact survivors ->
    // per-source quality cap on what's left. Every stage reuses its
    // single-sourced definition (digest keep rule, MINHASH_SIG_CTES,
    // QUALITY_SCORED_CTE, the sourceCap window), so the composition
    // cannot drift from its parts — the doc_pipeline_clean/curate
    // discipline applied to the ingest path.
    "doc_pipeline_ingest" -> QueryDef(
      s"""WITH $MINHASH_SIG_CTES,
         |$QUALITY_SCORED_CTE,
         |side AS (SELECT doc_id,
         |    substr(md5(doc_id::VARCHAR), 1, 1) < 'a' AS is_idx
         |  FROM documents),
         |oldd AS (SELECT sha256(text) AS digest
         |  FROM documents d JOIN side ON d.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |newd AS (SELECT d.doc_id, sha256(text) AS digest
         |  FROM documents d JOIN side ON d.doc_id = side.doc_id
         |  WHERE NOT side.is_idx),
         |ekeep AS (SELECT n.doc_id FROM newd n
         |  LEFT JOIN (SELECT DISTINCT digest FROM oldd) i ON n.digest = i.digest
         |  JOIN (SELECT digest, min(doc_id) AS keep_id FROM newd GROUP BY 1) kp
         |    ON n.digest = kp.digest
         |  WHERE i.digest IS NULL AND n.doc_id = kp.keep_id),
         |pisig AS (SELECT s.* FROM sig s JOIN side ON s.doc_id = side.doc_id
         |  WHERE side.is_idx),
         |pbsig AS (SELECT s.* FROM sig s JOIN ekeep k ON s.doc_id = k.doc_id),
         |pdi AS (SELECT DISTINCT b.doc_id FROM pbsig b JOIN pisig a
         |  ON (${minhashEqSum("a", "b")}) / 32.0 >= 0.6),
         |pdb AS (SELECT DISTINCT b.doc_id FROM pbsig b JOIN pbsig a
         |  ON a.doc_id < b.doc_id
         |  AND (${minhashEqSum("a", "b")}) / 32.0 >= 0.6),
         |nkeep AS (SELECT doc_id FROM ekeep
         |  WHERE doc_id NOT IN (SELECT doc_id FROM pdi)
         |    AND doc_id NOT IN (SELECT doc_id FROM pdb)),
         |ranked AS (
         |  SELECT s.doc_id, d.source, s.q_dm,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY coalesce(s.q_dm, -1) DESC, s.doc_id ASC) AS rn
         |  FROM scored s
         |  JOIN nkeep k ON s.doc_id = k.doc_id
         |  JOIN documents d ON s.doc_id = d.doc_id)
         |SELECT doc_id, source, q_dm, rn FROM ranked WHERE rn <= 20""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val side = substring(md5(col("doc_id").cast("string")), 1, 1)
        val idxDocs = docs.filter(side < "a")
        val batch = docs.filter(side >= "a")
        val exact = Dedup.incrementalDedup(batch, col("text"), col("doc_id"),
          idxDocs.select(sha2(col("text"), 256).as("digest")))
        val exactKept = batch.join(
          exact.filter(col("keep")).select("doc_id"), "doc_id")
        val idxSigs = Dedup.minhashSignatures(idxDocs, col("text"),
          col("doc_id"), perms = 32, shingleN = 3, baseHash = Dedup.Md5Prefix)
        val near = Dedup.incrementalNearDup(exactKept, col("text"),
          col("doc_id"), idxSigs, perms = 32, bands = 16,
          estThreshold = 0.6, baseHash = Dedup.Md5Prefix)
        val nearKept = exactKept.join(
          near.filter(col("keep")).select("doc_id"), "doc_id")
        val scored = nearKept.select(col("doc_id"), col("source"),
            col("n_chars"),
            TA.wordCount(col("text")).as("n_words"),
            TA.punctCount(col("text")).as("n_punct"),
            TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
          .withColumn("q_dm",
            TA.qualityDecimicro(col("n_words"), col("n_punct"),
              col("n_chars"), col("n_stop")))
        Sampling.sourceCap(scored, col("source"), col("q_dm"),
            col("doc_id"), cap = 20)
          .select("doc_id", "source", "q_dm", "rn")
    },

    // DSIR-style importance weights toward the English slice: per-word
    // target/corpus probability ratios, micro-rounded then averaged
    // per doc (exact rational arithmetic, the lmScore discipline).
    // Docs whose vocabulary skews English-like weigh > 1.
    "doc_importance_weights" -> QueryDef(
      s"""WITH w AS (
         |  SELECT doc_id, unnest($SPLIT) AS word,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt
         |  FROM documents),
         |wc AS (SELECT word, count(*) AS ccnt, sum(tgt) AS tcnt
         |  FROM w GROUP BY 1),
         |tot AS (SELECT sum(ccnt) AS ctot, sum(tcnt) AS ttot FROM wc),
         |m AS (
         |  SELECT w.doc_id,
         |    round(1000000.0 * (wc.tcnt::DOUBLE * tot.ctot)
         |      / (tot.ttot::DOUBLE * wc.ccnt)) AS sp
         |  FROM w JOIN wc USING (word) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_words,
         |  round(sum(sp) / count(*) / 1000000.0, 4) AS importance
         |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      TA.importanceWeights(Tables.documents(s, dir), col("text"),
        col("doc_id"), col("lang") === "en")
    },

    // Token-budget selection: the best docs by (quality desc, doc_id)
    // until 15k tokens. The ORACLE is the naive global running-sum
    // window; the Spark side derives the same rows from a bucketed
    // histogram (metadata-sized) — no global window ever touches the
    // corpus. cum_tokens must still reconstruct identically.
    "doc_token_budget" -> QueryDef(
      s"""WITH $QUALITY_SCORED_CTE,
         |base AS (
         |  SELECT doc_id, q_dm, n_words AS n_tokens
         |  FROM scored WHERE q_dm IS NOT NULL),
         |c AS (
         |  SELECT doc_id, q_dm, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY q_dm DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM base)
         |SELECT doc_id, q_dm, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 15000""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val rows = docs.select(col("doc_id"),
          col("n_chars"),
          TA.wordCount(col("text")).as("n_words"),
          TA.punctCount(col("text")).as("n_punct"),
          TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
        .withColumn("q_dm",
          TA.qualityDecimicro(col("n_words"), col("n_punct"), col("n_chars"),
            col("n_stop")))
        .filter(col("q_dm").isNotNull)
        .select(col("doc_id"), col("q_dm").as("q"),
          col("n_words").cast("long").as("n_tokens"))
      Sampling.tokenBudgetSelect(rows, 15000L)
        .withColumnRenamed("q", "q_dm")
    },

    // Deterministic stratified train/val/test split: assignment is a
    // pure function of md5(text) (80/10/10), so every lang stratum
    // lands ~the proportions with ZERO shuffles — plus per-split
    // aggregate proof in the same frame.
    "doc_train_val_test" -> QueryDef(
      s"""SELECT doc_id, lang,
         |  CASE WHEN substr(md5(text), 1, 6) < '${Sampling.hashBound(0.8)}'
         |    THEN 'train'
         |    WHEN substr(md5(text), 1, 6) < '${Sampling.hashBound(0.9)}'
         |    THEN 'val' ELSE 'test' END AS split
         |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.hashSplit(Tables.documents(s, dir), col("text"), 0.8, 0.1)
        .select("doc_id", "lang", "split")
    },

    // SPLIT-LEAKAGE audit: near-dup pairs straddling the train/val/test
    // boundary — the check a training pipeline runs before shipping a
    // split. hashSplit keys on md5(text), so EXACT duplicates land in
    // one split by construction; near-dups can still straddle, and
    // this reports the full (split, split) matrix with pair counts and
    // the worst Jaccard per cell (cross-split cells are the leaks).
    // Composes the single-sourced Jaccard pair CTEs with the split
    // rule's shared hashBound literals.
    "doc_split_leakage" -> QueryDef(
      s"""WITH $JACCARD_PAIRS_CTES,
         |sp AS (SELECT doc_id,
         |  CASE WHEN substr(md5(text), 1, 6) < '${Sampling.hashBound(0.8)}'
         |    THEN 'train'
         |    WHEN substr(md5(text), 1, 6) < '${Sampling.hashBound(0.9)}'
         |    THEN 'val' ELSE 'test' END AS split
         |  FROM documents)
         |SELECT least(pa.split, pb.split) AS split_lo,
         |  greatest(pa.split, pb.split) AS split_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  max(jaccard) AS max_jaccard
         |FROM pairs
         |JOIN sp pa ON pairs.a_id = pa.doc_id
         |JOIN sp pb ON pairs.b_id = pb.doc_id
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
        3, 0.8)
      val sp = Sampling.hashSplit(docs, col("text"), 0.8, 0.1)
        .select(col("doc_id"), col("split"))
      pairs
        .join(sp.select(col("doc_id").as("a_id"), col("split").as("sa")), "a_id")
        .join(sp.select(col("doc_id").as("b_id"), col("split").as("sb")), "b_id")
        .groupBy(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
    },

    // Deterministic content-hash sampling: ~10% of docs survive, chosen
    // by md5 prefix (identical hex in both engines) — reproducible
    // corpus subsetting with no RNG coordination.
    "doc_sample_hash" -> QueryDef(
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE substr(md5(text), 1, 6) < '${Sampling.hashBound(0.1)}'""".stripMargin) {
      (s, dir) =>
        Sampling.hashSample(Tables.documents(s, dir), col("text"), 0.1)
          .select("doc_id", "lang", "n_chars")
    },

    // Distributed BPE merge training, 16 merges on the documents
    // corpus — the tokenizer-construction step. Full SQL oracle: the
    // 16 merge rounds are UNROLLED as chained CTEs (see
    // [[bpeChainCtes]] — the "iterative loop" objection dissolves when
    // the round count is a build-time constant), so the driver's exact
    // hash compare grades the whole train. The exact Python oracle in
    // tools/pyoracle.py stays as an independent second check.
    "doc_bpe_merges" -> QueryDef(
      s"""WITH ${bpeChainCtes(BpeMerges)}
         |${(1 to BpeMerges).map(r =>
             s"""SELECT CAST(${r - 1} AS INT) AS "rank", l AS "left", r AS "right", f AS freq FROM b$r""")
             .mkString("\nUNION ALL ")}""".stripMargin) { (s, dir) =>
      TA.bpeTrain(Tables.documents(s, dir), col("text"), BpeMerges)
    },

    // Packing under the REAL tokenizer: BPE-encode token counts feed
    // the greedy per-lang packer — the end-to-end shape of a training
    // shard builder (tokenize with the trained vocab, then pack to
    // context length). SQL oracle = the unrolled train/encode chain
    // composed with doc_pack_greedy's recursive (bin, fill) replay.
    "doc_pack_bpe" -> QueryDef(
      s"""WITH RECURSIVE ${bpeChainCtes(BpeMerges)}, $bpeEncodeCtes,
         |d AS (
         |  SELECT st.doc_id, doc.lang, st.n_tokens,
         |    row_number() OVER (PARTITION BY doc.lang ORDER BY st.doc_id) AS rn
         |  FROM stats st JOIN documents doc ON st.doc_id = doc.doc_id),
         |r AS (
         |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin,
         |    n_tokens AS bin_fill
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
         |         THEN r.bin + 1 ELSE r.bin END,
         |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
         |         THEN d.n_tokens ELSE r.bin_fill + d.n_tokens END
         |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
         |SELECT doc_id, lang, n_tokens, bin, bin_fill FROM r""".stripMargin) { (s, dir) =>
      val enc = TA.bpeEncodeStats(Tables.documents(s, dir), col("text"),
        col("doc_id"), BpeMerges)
      val withLang = enc
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          "doc_id")
        .select("doc_id", "lang", "n_tokens")
      Sampling.packGreedy(withLang, "n_tokens", 512L, Seq("lang"), "doc_id")
    },

    // BPE encode: the trained 16-merge table applied to every doc in
    // one map-only pass — per-doc token counts under the real
    // tokenizer. SQL oracle: training application IS rank-order greedy
    // application, so the unrolled chain's final table t16 holds every
    // distinct word's encoding; per-doc stats are a word join away.
    "doc_bpe_encode" -> QueryDef(
      s"""WITH ${bpeChainCtes(BpeMerges)}, $bpeEncodeCtes
         |SELECT doc_id, n_words, n_sym0, n_tokens FROM stats""".stripMargin) {
      (s, dir) =>
      TA.bpeEncodeStats(Tables.documents(s, dir), col("text"), col("doc_id"),
        BpeMerges)
    },

    // CCNet-style n-gram LM quality score: mean conditional bigram
    // probability per doc from the corpus's own bigram counts —
    // summed as exact integer-valued round(1e6*c2/c1) doubles, so the
    // whole score is bit-identical cross-engine (no ln, no fp
    // accumulation; the tf-idf rational-arithmetic rule).
    "doc_lm_score" -> QueryDef(
      s"""WITH bg AS (
         |  SELECT doc_id, bgl[1] AS w1, bgl[2] AS w2 FROM (
         |    SELECT doc_id, unnest([[ws[i], ws[i+1]] for i in range(1, len(ws))]) AS bgl
         |    FROM (SELECT doc_id, $SPLIT AS ws FROM documents) s) t),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |p AS (SELECT c2.w1, c2.w2, round(1000000.0 * c2.c2 / c1.c1) AS sp
         |      FROM c2 JOIN c1 USING (w1))
         |SELECT bg.doc_id, count(*) AS n_bg,
         |  round(sum(sp) / count(*) / 1000000.0, 4) AS lm_score
         |FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
         |GROUP BY bg.doc_id""".stripMargin) { (s, dir) =>
      TA.lmScore(Tables.documents(s, dir), col("text"), col("doc_id"))
    },

    // Deterministic global shuffle into 8 training shards: md5-prefix
    // shard assignment (the hashBound boundaries as literals — the
    // same cross-engine contract as doc_sample_hash) + content-hash
    // read order within each shard. One shuffle (the shard write's own
    // exchange); proves the full write-side randomization step
    // cell-exact.
    "doc_shuffle_shards" -> QueryDef(
      s"""SELECT doc_id, lang, shard,
         |  row_number() OVER (
         |    PARTITION BY shard ORDER BY md5(text), doc_id) AS shard_pos
         |FROM (
         |  SELECT doc_id, lang, text,
         |    ${(1 until 8).map(i =>
                s"(CASE WHEN substr(md5(text),1,6) >= '${Sampling.hashBound(i / 8.0)}' THEN 1 ELSE 0 END)")
                .mkString(" + ")} AS shard
         |  FROM documents) t""".stripMargin) { (s, dir) =>
      Sampling.shuffleShards(Tables.documents(s, dir), col("text"),
          col("doc_id"), 8)
        .select("doc_id", "lang", "shard", "shard_pos")
    },

    // SHARD MANIFEST — the reproducibility artifact a training run
    // records next to its shards: per shard, doc/token counts, lang
    // spread, the read-order head doc, and an ORDER-INDEPENDENT
    // content checksum (sum of 32-bit md5 prefixes — any row change,
    // loss, or duplication moves it; the doc_sample_hash portable-hash
    // idiom, summable because each term < 2^32). Composes the shard
    // assignment's shared hashBound literals.
    "doc_shard_manifest" -> QueryDef(
      s"""WITH sh AS (
         |  SELECT doc_id, lang, text,
         |    ${(1 until 8).map(i =>
              s"(CASE WHEN substr(md5(text),1,6) >= '${Sampling.hashBound(i / 8.0)}' THEN 1 ELSE 0 END)")
              .mkString(" + ")} AS shard
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY shard ORDER BY md5(text), doc_id) AS shard_pos
         |  FROM sh)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($SPLIT)) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  min(CASE WHEN shard_pos = 1 THEN doc_id END) AS head_doc,
         |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
         |    AS checksum
         |FROM r GROUP BY 1""".stripMargin) { (s, dir) =>
      Sampling.shuffleShards(Tables.documents(s, dir), col("text"),
          col("doc_id"), 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.wordCount(col("text"))).cast("long").as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          min(when(col("shard_pos") === 1, col("doc_id"))).as("head_doc"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .cast("long").as("checksum"))
    },

    // BM25 over CHUNKS — the RAG retrieval granularity: the corpus is
    // chunked (32/24 stride, the doc_chunks convention), each chunk is
    // a retrieval unit keyed doc_id*1000+idx, and the SAME
    // integer-micro BM25 arithmetic ranks chunks for the fixed term
    // queries. Corpus stats (N, avgdl) are CHUNK-level — retrieval
    // quality at this granularity is what a RAG index actually serves.
    "doc_chunk_bm25" -> QueryDef(
      s"""WITH ch AS (
         |  SELECT doc_id*1000 + i AS cid,
         |    array_to_string(list_slice(ws, i*24 + 1, least(i*24 + 32, n)), ' ') AS chunk
         |  FROM (SELECT doc_id, ws, len(ws) AS n,
         |      unnest(range(0, (len(ws)-1)//24 + 1)) AS i
         |    FROM (SELECT doc_id, $SPLIT AS ws FROM documents) w) s),
         |w AS (SELECT cid, unnest(string_split(chunk, ' ')) AS word FROM ch),
         |tf AS (SELECT cid, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dl AS (SELECT cid, sum(tf) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |nt AS (SELECT (SELECT count(*) FROM ch) AS n,
         |              (SELECT count(*) FROM w) AS t),
         |q(query_id, word) AS (VALUES
         |  (0, 'hash'), (0, 'join'), (0, 'order'),
         |  (1, 'vector'), (1, 'scan'), (1, 'filter'),
         |  (2, 'slow'), (2, 'merge'), (2, 'batch'), (2, 'data')),
         |term AS (
         |  SELECT q.query_id, t.cid,
         |    round((nt.n - d.df + 0.5) / (d.df + 0.5)
         |      * (t.tf * 2.2)
         |      / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl * nt.n / nt.t))
         |      * 1000000.0) AS micros
         |  FROM tf t JOIN q ON t.word = q.word
         |    JOIN dfq d ON t.word = d.word
         |    JOIN dl l ON t.cid = l.cid
         |    CROSS JOIN nt),
         |scored AS (
         |  SELECT query_id, cid,
         |    CAST(sum(micros) AS BIGINT) AS score_micros,
         |    count(*) AS terms_hit
         |  FROM term GROUP BY 1, 2)
         |SELECT query_id, cid AS chunk_id, score_micros, terms_hit, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_micros DESC, cid) AS rnk
         |  FROM scored) s
         |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val chunks = TA.chunkWords(Tables.documents(s, dir), col("text"),
          col("doc_id"), size = 32, stride = 24)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
          col("chunk"))
      TA.bm25TopK(chunks, col("chunk"), col("cid"),
          Seq(0 -> "hash join order", 1 -> "vector scan filter",
            2 -> "slow merge batch data"), 5)
        .withColumnRenamed("doc_id", "chunk_id")
    },

    // Class-balanced deterministic sample: the 20 smallest md5 keys per
    // language — equal per-class representation without an RNG.
    "doc_balanced_sample" -> QueryDef(
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20""".stripMargin) { (s, dir) =>
      Sampling.balancedSample(Tables.documents(s, dir), col("lang"),
          col("text"), col("doc_id"), 20)
        .select("doc_id", "lang", "rn")
    },

    // Per-source frequency capping (the RefinedWeb/CCNet domain-cap
    // step): keep the 40 BEST-quality docs per source (exact integer
    // decimicro score, ties -> lowest id). The Spark side runs the
    // salted two-phase top-k — no domain ever lands in one sort
    // partition — which is provably identical to this single-window
    // oracle for every salt count.
    "doc_source_cap" -> QueryDef(
      s"""WITH $QUALITY_SCORED_CTE,
         |ranked AS (
         |  SELECT s.doc_id, d.source, s.q_dm,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY coalesce(s.q_dm, -1) DESC, s.doc_id ASC) AS rn
         |  FROM scored s JOIN documents d USING (doc_id))
         |SELECT doc_id, source, q_dm, rn FROM ranked WHERE rn <= 40""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val scored = docs.select(col("doc_id"), col("source"),
            col("n_chars"),
            TA.wordCount(col("text")).as("n_words"),
            TA.punctCount(col("text")).as("n_punct"),
            TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
          .withColumn("q_dm",
            TA.qualityDecimicro(col("n_words"), col("n_punct"),
              col("n_chars"), col("n_stop")))
        Sampling.sourceCap(scored, col("source"), col("q_dm"),
            col("doc_id"), cap = 40)
          .select("doc_id", "source", "q_dm", "rn")
    },

    // The same domain cap under the STREAMING engine: documents stream
    // in, quality scores compute statelessly per row, and the state
    // store holds only the packed cap-best (score, id) pairs per
    // source (16*cap bytes per domain, however hot). Capped-set
    // insertion is a deterministic function of the input multiset, so
    // the drained state equals the batch sourceCap keep-set under any
    // trigger slicing — the oracle is the SAME single-window SQL.
    "doc_source_cap_stream" -> QueryDef(
      s"""WITH $QUALITY_SCORED_CTE,
         |ranked AS (
         |  SELECT s.doc_id, d.source, s.q_dm,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY coalesce(s.q_dm, -1) DESC, s.doc_id ASC) AS rn
         |  FROM scored s JOIN documents d USING (doc_id))
         |SELECT doc_id, source, q_dm, rn FROM ranked WHERE rn <= 40""".stripMargin) {
      (s, dir) =>
        val src = Streaming.documentsStream(s, dir)
        val scored = src.select(col("doc_id"), col("source"),
            col("n_chars"),
            TA.wordCount(col("text")).as("n_words"),
            TA.punctCount(col("text")).as("n_punct"),
            TA.markerCount(col("text"), TA.Stopwords).as("n_stop"))
          .withColumn("q_dm",
            TA.qualityDecimicro(col("n_words"), col("n_punct"),
              col("n_chars"), col("n_stop")))
        Streaming.unpackTopCap(Streaming.runAvailableNow(
          Streaming.sourceCapStream(scored, col("source"), col("q_dm"),
            col("doc_id"), cap = 40),
          // state is one packed cap-array per SOURCE (a handful of
          // domains): metadata-sized, key-bound rule
          statePartitions = Some(8)))
    },

    // Greedy sequence packing: per language, docs in doc_id order fill
    // 512-token bins (training-batch packing). Path-dependent fold,
    // oracled via a RECURSIVE CTE replaying the same (bin, fill) state
    // row by row — upgraded from py-oracle to a driver-visible DuckDB
    // oracle in round 3.
    // Deterministic mixture resampling (domain weighting): en halved,
    // de doubled, fr at 1.25 epochs (repeat + content-hash fraction),
    // es dropped, zh at the default 1.0 — every weight shape in one
    // query. The md5-prefix rule makes the fractional epochs the same
    // content-chosen subset in both engines.
    "doc_mixture_sample" -> QueryDef(
      s"""WITH m AS (SELECT doc_id, lang,
         |  (CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2 WHEN 'fr' THEN 1
         |             WHEN 'es' THEN 0 ELSE 1 END)
         |  + (CASE WHEN substr(md5(text), 1, 6) <
         |       CASE lang WHEN 'en' THEN '${Sampling.fracBound(0.5)}'
         |                 WHEN 'fr' THEN '${Sampling.fracBound(1.25)}'
         |                 ELSE '000000' END
         |     THEN 1 ELSE 0 END) AS copies
         |  FROM documents)
         |SELECT doc_id, lang, unnest(range(0, copies)) AS copy FROM m""".stripMargin) {
      (s, dir) =>
        Sampling.mixtureSample(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
          col("lang"), col("text"),
          Map("en" -> 0.5, "de" -> 2.0, "fr" -> 1.25, "es" -> 0.0))
          .select("doc_id", "lang", "copy")
    },

    // TEMPERATURE-scaled language mixture (alpha = 0.5, the mC4/ROOTS
    // rebalancing recipe): per-lang weights DERIVED from count(*) by a
    // pure integer rule — r = isqrt(n), w_micro = min(cap, 1e6*N*r /
    // (S*n)) with floor division — replayed in SQL over HUGEINT, the
    // fractional-epoch bound rebuilt via to_hex. Majority langs
    // downsample, minority langs repeat deterministically; no weight
    // literal is pinned, so the graded plan is the one that re-derives
    // itself at any corpus size.
    "doc_temperature_mixture" -> QueryDef(
      s"""WITH ${temperatureCtes("documents")},
        |m AS (SELECT d.doc_id, d.lang,
        |    (w.wm // 1000000) + (CASE WHEN substr(md5(d.text), 1, 6) <
        |      lower(lpad(to_hex((w.wm % 1000000) * 16777216 // 1000000), 6, '0'))
        |      THEN 1 ELSE 0 END) AS copies
        |  FROM documents d JOIN w ON w.lang = d.lang)
        |SELECT doc_id, lang, unnest(range(0, copies)) AS copy
        |FROM m""".stripMargin) { (s, dir) =>
      Sampling.temperatureMixture(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
        col("lang"), col("text"))
        .select("doc_id", "lang", "copy")
    },

    "doc_pack_greedy" -> QueryDef(
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin,
        |    n_tokens AS bin_fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
        |         THEN r.bin + 1 ELSE r.bin END,
        |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
        |         THEN d.n_tokens ELSE r.bin_fill + d.n_tokens END
        |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
        |SELECT doc_id, lang, n_tokens, bin, bin_fill FROM r""".stripMargin) { (s, dir) =>
      val withTokens = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.packGreedy(withTokens, "n_tokens", 512L, Seq("lang"), "doc_id")
    },

    // The composed cleaning pipeline a training-data job actually runs:
    // quality filter -> exact-dedup keep-list -> deterministic hash
    // sample, end-to-end in one oracled query (operators compose
    // without breaking exactness).
    "doc_pipeline_clean" -> QueryDef(
      s"""WITH $QUALITY_SCORED_CTE,
         |keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY text)
         |SELECT s.doc_id, s.lang, s.quality
         |FROM scored s JOIN keep k ON s.doc_id = k.keep_id
         |WHERE s.quality >= 0.5
         |  AND substr(md5(s.text), 1, 6) < '${Sampling.hashBound(0.5)}'""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        val scored = docs.select(col("doc_id"), col("lang"), col("text"),
          TA.qualityScore(TA.wordCount(col("text")),
            TA.punctCount(col("text")), col("n_chars"),
            TA.markerCount(col("text"), TA.Stopwords)).as("quality"))
        val keep = Dedup.exactDedup(docs, col("text"), col("doc_id"))
          .select(col("keep_id"))
        Sampling.hashSample(
            scored.join(keep, col("doc_id") === col("keep_id"), "left_semi")
              .filter(col("quality") >= 0.5),
            col("text"), 0.5)
          .select("doc_id", "lang", "quality")
    },

    // The round-7 CURATION pipeline, end-to-end under one oracle: the
    // canonical corpus-prep recipe — Gopher filter battery (keep
    // verdicts only) -> exact dedup among the kept docs (min-id
    // keeper) -> temperature rebalance (alpha=0.5) whose weights are
    // derived from the CLEANED per-lang counts. Order matters twice
    // (dedup only over kept docs; weights from post-dedup counts) and
    // every stage's rule is the single-sourced CTE the stage's own
    // query uses, so the composition cannot drift from its parts.
    "doc_pipeline_curate" -> QueryDef(
      s"""WITH b AS (SELECT doc_id, lang, text AS t,
         |    string_split(lower(text), ' ') AS ws FROM documents),
         |${filterBatterySql("b")},
         |kept AS (SELECT b.doc_id, b.lang, b.t FROM b
         |  JOIN v ON v.doc_id = b.doc_id WHERE v.reason = 'keep'),
         |ded AS (SELECT min(doc_id) AS keep_id FROM kept GROUP BY t),
         |clean AS (SELECT k.doc_id, k.lang, k.t FROM kept k
         |  JOIN ded ON k.doc_id = ded.keep_id),
         |${temperatureCtes("clean")},
         |m AS (SELECT c.doc_id, c.lang,
         |    (w.wm // 1000000) + (CASE WHEN substr(md5(c.t), 1, 6) <
         |      lower(lpad(to_hex((w.wm % 1000000) * 16777216 // 1000000), 6, '0'))
         |      THEN 1 ELSE 0 END) AS copies
         |  FROM clean c JOIN w ON w.lang = c.lang)
         |SELECT doc_id, lang, unnest(range(0, copies)) AS copy
         |FROM m""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val keptIds = TA.filterChain(docs, col("text"), col("doc_id"))
        .filter(col("keep")).select("doc_id")
      val kept = docs.join(keptIds, Seq("doc_id"), "left_semi")
      val keepList = Dedup.exactDedup(kept, col("text"), col("doc_id"))
        .select(col("keep_id"))
      val clean = kept.join(keepList, col("doc_id") === col("keep_id"),
        "left_semi")
      Sampling.temperatureMixture(
          clean.select(col("doc_id"), col("lang"), col("text")),
          col("lang"), col("text"))
        .select("doc_id", "lang", "copy")
    },

    // The round-6 pipeline composition, end-to-end under one oracle:
    // decontaminate (BLOOM path) -> passage-level dedup with document
    // reconstruction (drop fully-duplicate docs) -> mixture resampling
    // on the CLEANED text (en halved, de doubled). Exercises that the
    // new operators compose without breaking exactness — the mixture
    // hash keys on text that passage dedup rewrote, and the passage
    // keeper election runs only over decontaminated survivors (order
    // matters; the SQL replays the same order).
    "doc_pipeline_train" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, lang, $SPLIT AS ws FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w WHERE len(ws) >= 3),
         |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |contaminated AS (SELECT doc_id FROM sh JOIN bsh USING (s)
         |  WHERE doc_id % 97 <> 0 GROUP BY doc_id HAVING count(*) >= 3),
         |corpus AS (SELECT doc_id, lang, ws FROM w
         |  WHERE doc_id % 97 <> 0
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |s2 AS (SELECT doc_id, ws, len(ws) AS n,
         |  unnest(range(0, (len(ws)-1)//20 + 1)) AS i FROM corpus),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |  array_to_string(list_slice(ws, i*20 + 1, least(i*20 + 20, n)), ' ') AS chunk
         |  FROM s2),
         |kept AS (SELECT doc_id, chunk_idx, chunk FROM (
         |  SELECT doc_id, chunk_idx, chunk, row_number() OVER (
         |    PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
         |  FROM ch) r
         |  WHERE rn = 1),
         |rebuilt AS (SELECT t.doc_id,
         |    string_agg(k.chunk, ' ' ORDER BY k.chunk_idx) AS clean_text,
         |    count(k.chunk) AS n_kept, any_value(t.n_total) AS n_total
         |  FROM (SELECT doc_id, count(*) AS n_total FROM ch GROUP BY 1) t
         |  LEFT JOIN kept k USING (doc_id) GROUP BY t.doc_id),
         |survivors AS (SELECT r.doc_id, c.lang, r.clean_text, r.n_kept,
         |    r.n_total
         |  FROM rebuilt r JOIN corpus c USING (doc_id) WHERE r.n_kept > 0),
         |m AS (SELECT doc_id, lang, n_kept, n_total,
         |  (CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2 ELSE 1 END)
         |  + (CASE WHEN substr(md5(clean_text), 1, 6) <
         |       CASE lang WHEN 'en' THEN '${Sampling.fracBound(0.5)}'
         |                 ELSE '000000' END
         |     THEN 1 ELSE 0 END) AS copies
         |  FROM survivors)
         |SELECT doc_id, lang, unnest(range(0, copies)) AS copy,
         |  n_kept, n_total
         |FROM m""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val contaminated = Dedup.decontaminateBloom(corpus, bench,
          col("text"), col("doc_id"), n = 3, minShared = 3)
        .select(col("doc_id").as("bad_id"))
      val decontaminated = corpus.join(contaminated,
        col("doc_id") === col("bad_id"), "left_anti")
      val para = Dedup.paragraphDedup(decontaminated, col("text"),
          col("doc_id"), size = 20)
        .filter(col("n_kept") > 0)
        .join(corpus.select(col("doc_id"), col("lang")), "doc_id")
      Sampling.mixtureSample(para, col("lang"), col("clean_text"),
          Map("en" -> 0.5, "de" -> 2.0))
        .select("doc_id", "lang", "copy", "n_kept", "n_total")
    },

    // Test-set decontamination: corpus docs sharing >= 3 distinct
    // word-trigrams with any "benchmark" doc (deterministic benchmark:
    // doc_id % 97 == 0, ~1% of the corpus standing in for an eval
    // suite). The benchmark shingle set broadcasts; the corpus is
    // never shuffled.
    "doc_decontaminate" -> QueryDef(DECONTAMINATE_SQL) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("text"), col("doc_id"), n = 3, minShared = 3)
    },

    // Same decontamination under the Bloom-prefilter scale path:
    // the benchmark shingle set rides as a broadcast Bloom (bits, not
    // an 8-byte-hash set), the corpus-side pass is a per-row JVM
    // filter, and only bloom-passing shingles reach the exact confirm
    // join. Blooms have no false negatives and the confirm removes the
    // false positives, so the output — and the oracle — are IDENTICAL
    // to doc_decontaminate (DedupSpec pins equality + the
    // no-false-negative property at a hostile 50% fpp).
    "doc_decontaminate_bloom" -> QueryDef(DECONTAMINATE_SQL) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      Dedup.decontaminateBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        col("text"), col("doc_id"), n = 3, minShared = 3)
    },

    // Per-suite contamination AUDIT: the same shingle rule as
    // doc_decontaminate, but grouped by eval suite (lang stands in for
    // the benchmark name) — which suite leaks into the corpus, how
    // many corpus docs it taints, and the total shared-shingle mass.
    // Suites with no leaks report zeros (left join). sum() is cast
    // BIGINT — the HUGEINT lint rule.
    "doc_contamination_report" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, lang, $SPLIT AS ws FROM documents),
         |sh AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
         |    range(1, len(ws)-1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w WHERE len(ws) >= 3),
         |bsh AS (SELECT DISTINCT lang AS suite, s FROM sh
         |  WHERE doc_id % 97 = 0),
         |m AS (SELECT c.doc_id, b.suite, count(*) AS n_shared
         |  FROM sh c JOIN bsh b ON b.s = c.s
         |  WHERE c.doc_id % 97 <> 0
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |per AS (SELECT suite, count(*) AS n_contaminated,
         |    CAST(sum(n_shared) AS BIGINT) AS shared_shingles
         |  FROM m GROUP BY 1),
         |nb AS (SELECT lang AS suite, count(*) AS n_bench_docs
         |  FROM documents WHERE doc_id % 97 = 0 GROUP BY 1)
         |SELECT nb.suite, nb.n_bench_docs,
         |  coalesce(per.n_contaminated, 0) AS n_contaminated,
         |  coalesce(per.shared_shingles, 0) AS shared_shingles
         |FROM nb LEFT JOIN per ON per.suite = nb.suite""".stripMargin) {
      (s, dir) =>
        val docs = Tables.documents(s, dir)
        Dedup.contaminationReport(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          col("text"), col("doc_id"), col("lang"), n = 3, minShared = 3)
    },

    // Passage-level exact dedup: 20-word non-overlapping passages,
    // first corpus-wide occurrence (by doc_id, chunk_idx) survives,
    // documents reconstructed from survivors. Keeper election groups
    // 32 B sha2 digests with min_by (passage bodies cross the shuffle
    // once, losers die map-side); the oracle replays the same
    // first-occurrence rule on the passage text itself.
    "doc_para_dedup" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |s AS (SELECT doc_id, ws, len(ws) AS n,
         |  unnest(range(0, (len(ws)-1)//20 + 1)) AS i FROM w),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |  array_to_string(list_slice(ws, i*20 + 1, least(i*20 + 20, n)), ' ') AS chunk
         |  FROM s),
         |keep AS (SELECT chunk, min(doc_id*1000000 + chunk_idx) AS kk
         |  FROM ch GROUP BY 1),
         |kept AS (SELECT c.doc_id, c.chunk_idx, c.chunk FROM ch c
         |  JOIN keep k ON c.chunk = k.chunk
         |   AND c.doc_id*1000000 + c.chunk_idx = k.kk)
         |SELECT t.doc_id,
         |  coalesce(string_agg(k.chunk, ' ' ORDER BY k.chunk_idx), '') AS clean_text,
         |  count(k.chunk) AS n_kept,
         |  any_value(t.n_total) AS n_total
         |FROM (SELECT doc_id, count(*) AS n_total FROM ch GROUP BY 1) t
         |LEFT JOIN kept k USING (doc_id)
         |GROUP BY t.doc_id""".stripMargin) { (s, dir) =>
      Dedup.paragraphDedup(Tables.documents(s, dir), col("text"),
        col("doc_id"), size = 20)
    },

    // Gopher-style repetition metrics: duplicate-trigram fraction and
    // most-frequent-word fraction per doc (the public Rae et al.
    // repetition filters) — exact integer counts, round(,4) ratios.
    "doc_repetition" -> QueryDef(
      s"""SELECT doc_id, n_words, n_trigrams, n_distinct,
         |  CASE WHEN n_trigrams > 0 THEN round(1 - n_distinct/n_trigrams, 4) END AS dup_frac,
         |  CASE WHEN n_words > 0 THEN round(top_word/n_words, 4) END AS top_word_frac
         |FROM (
         |  SELECT doc_id, len(ws) AS n_words, greatest(len(ws)-2, 0) AS n_trigrams,
         |    CASE WHEN len(ws) >= 3 THEN len(list_distinct(list_transform(
         |      range(1, len(ws)-1),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS n_distinct,
         |    list_max(list_transform(list_distinct(ws),
         |      x -> len(list_filter(ws, y -> y = x)))) AS top_word
         |  FROM (SELECT doc_id, $SPLIT AS ws FROM documents) b) t""".stripMargin) {
      (s, dir) =>
        TA.repetitionStats(Tables.documents(s, dir), col("text"), col("doc_id"))
    },

    // PII scrubbing: email/phone redaction (replace-all, codegen'd
    // regexp_replace). The corpus contains no PII (asserted: zero
    // '@'/'+' chars), so each doc is AUGMENTED with a deterministic
    // synthetic email+phone built from its doc_id — the oracle then
    // proves redaction fires on every row, not just on none.
    "doc_pii_scrub" -> QueryDef(
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@corp.example call +1202555'
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS scrubbed,
        |  len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '\+[0-9]{7,15}')) AS n_phones
        |FROM aug""".stripMargin) { (s, dir) =>
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@corp.example call +1202555"),
        lpad((col("doc_id") % 1000).cast("string"), 4, "0"))
      Tables.documents(s, dir).select(col("doc_id"),
        TA.scrubPii(aug).as("scrubbed"),
        TA.emailCount(aug).as("n_emails"),
        TA.phoneCount(aug).as("n_phones"))
    },

    // Fixed-stride word chunking (32-word windows every 24 words,
    // 8-word overlap): the RAG / pre-training chunker, one typed
    // flatMap, zero shuffle.
    "doc_chunks" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |s AS (SELECT doc_id, ws, len(ws) AS n,
         |  unnest(range(0, (len(ws)-1)//24 + 1)) AS i FROM w)
         |SELECT doc_id, i AS chunk_idx,
         |  least(i*24 + 32, n) - i*24 AS n_tokens,
         |  array_to_string(list_slice(ws, i*24 + 1, least(i*24 + 32, n)), ' ') AS chunk
         |FROM s""".stripMargin) { (s, dir) =>
      TA.chunkWords(Tables.documents(s, dir), col("text"), col("doc_id"),
        size = 32, stride = 24)
    },

    // Rolling-hash document fingerprint (mod 1e9+7 polynomial).
    "doc_fingerprint" -> QueryDef(
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN NULL
        |    ELSE list_reduce(list_transform(string_split(text, ''),
        |      c -> CAST(unicode(c) AS BIGINT)),
        |      (a, b) -> (a*31 + b) % 1000000007) END AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
    },

    // JSONL ingest round-trip: the corpus is staged as JSON-lines (the
    // raw web-corpus format) and re-read through Ingest.readJsonl's
    // schema'd permissive scan — the oracle is the source table, so
    // equality proves the serialize -> line-split -> schema'd parse
    // path is lossless (escapes, unicode, nulls). The corrupt-record
    // quarantine column must be empty on clean input.
    "doc_ingest_jsonl" -> QueryDef(
      """SELECT doc_id, text, lang, source, n_chars,
        |  CAST(NULL AS VARCHAR) AS corrupt
        |FROM documents""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl_q").toString
      Tables.documents(s, dir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").json(s"$tmp/raw")
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      graft.sources.Ingest.readJsonl(s, s"$tmp/raw", schema)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("_corrupt_record").as("corrupt"))
    },

    // HYBRID retrieval with Reciprocal Rank Fusion: 3 md5-picked probe
    // docs retrieve their top-20 by exact shingle Jaccard (lexical,
    // broadcast query sets — corpus text never shuffles) AND their
    // top-20 by embedding cosine (dense, the bruteForceTopK path);
    // RRF fuses the two rank lists with integer 1e6//(60+rank)
    // contributions — no score calibration, no float in any rank key.
    // The RAG / curation retrieval stack end-to-end under one oracle.
    "doc_hybrid_rrf" -> QueryDef(
      s"""WITH qs AS (
         |  SELECT doc_id AS q_id FROM documents
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 3),
         |w AS (SELECT doc_id, $SPLIT AS ws FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |  FROM w WHERE len(ws) >= 3),
         |scnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT q.doc_id AS q_id, d.doc_id AS doc_id, count(*) AS inter
         |  FROM sh q
         |  JOIN qs ON q.doc_id = qs.q_id
         |  JOIN sh d ON d.s = q.s AND d.doc_id != q.doc_id
         |  GROUP BY 1, 2),
         |lex AS (
         |  SELECT q_id, i.doc_id,
         |    CAST((i.inter * 1000000) // (nq.n + nd.n - i.inter) AS BIGINT) AS jacc_um
         |  FROM inter i
         |  JOIN scnt nq ON nq.doc_id = i.q_id
         |  JOIN scnt nd ON nd.doc_id = i.doc_id),
         |lexr AS (
         |  SELECT q_id, doc_id, lex_rnk FROM (
         |    SELECT q_id, doc_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY jacc_um DESC, doc_id) AS lex_rnk
         |    FROM lex) t WHERE lex_rnk <= 20),
         |qe AS (SELECT vec_id AS q_id, embedding AS qv
         |  FROM embeddings JOIN qs ON vec_id = qs.q_id),
         |semr AS (
         |  SELECT q_id, doc_id, sem_rnk FROM (
         |    SELECT q_id, vec_id AS doc_id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY list_dot_product(qv::DOUBLE[], embedding::DOUBLE[]) /
         |          (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))
         |           * sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) DESC,
         |          vec_id ASC) AS sem_rnk
         |    FROM qe CROSS JOIN embeddings WHERE vec_id != q_id) t
         |  WHERE sem_rnk <= 20),
         |f AS (
         |  SELECT coalesce(l.q_id, s.q_id) AS q_id,
         |    coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rnk, s.sem_rnk
         |  FROM lexr l FULL JOIN semr s
         |    ON l.q_id = s.q_id AND l.doc_id = s.doc_id),
         |g AS (
         |  SELECT q_id, doc_id, lex_rnk, sem_rnk,
         |    CAST(coalesce(1000000 // (60 + lex_rnk), 0)
         |      + coalesce(1000000 // (60 + sem_rnk), 0) AS BIGINT) AS rrf_um
         |  FROM f)
         |SELECT q_id, doc_id, lex_rnk, sem_rnk, rrf_um,
         |  row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_um DESC, doc_id) AS rrf_rnk
         |FROM g""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val qIds = docs.select(col("doc_id"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        .limit(3).collect().map(_.getLong(0)).toSeq
      val lex = Retrieval.jaccardTopK(docs, col("text"), col("doc_id"),
        qIds, k = 20)
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(qIds: _*)), 20)
        .select(col("q_id"), col("neighbor_id").as("doc_id"),
          col("rnk").as("sem_rnk"))
      Retrieval.rrfFuse(lex, "lex_rnk", sem, "sem_rnk")
        .select("q_id", "doc_id", "lex_rnk", "sem_rnk", "rrf_um", "rrf_rnk")
    },

    // DSIR SELECTION end-to-end: importance weights toward the English
    // slice (exact integer micros — floor-division mean, no rounded
    // float anywhere in the key) ranked into a token-budget selection.
    // The Spark side composes importanceWeightMicros with the bucketed
    // tokenBudgetSelect (metadata histogram, no global window); the
    // oracle is the naive global running-sum window over the same
    // rational arithmetic.
    "doc_dsir_select" -> QueryDef(
      s"""WITH w AS (
         |  SELECT doc_id, unnest($SPLIT) AS word,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt
         |  FROM documents),
         |wc AS (SELECT word, count(*) AS ccnt, sum(tgt) AS tcnt
         |  FROM w GROUP BY 1),
         |tot AS (SELECT sum(ccnt) AS ctot, sum(tcnt) AS ttot FROM wc),
         |m AS (
         |  SELECT w.doc_id,
         |    round(1000000.0 * (wc.tcnt::DOUBLE * tot.ctot)
         |      / (tot.ttot::DOUBLE * wc.ccnt)) AS sp
         |  FROM w JOIN wc USING (word) CROSS JOIN tot),
         |iw AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(sp) AS BIGINT) // count(*) AS imp_um
         |  FROM m GROUP BY 1),
         |c AS (
         |  SELECT doc_id, imp_um, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY imp_um DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM iw)
         |SELECT doc_id, imp_um, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 12000""".stripMargin) { (s, dir) =>
      val iw = TA.importanceWeightMicros(Tables.documents(s, dir),
        col("text"), col("doc_id"), col("lang") === "en")
      Sampling.tokenBudgetSelect(
          iw.select(col("doc_id"), col("imp_um").as("q"),
            col("n_words").cast("long").as("n_tokens")), 12000L)
        .withColumnRenamed("q", "imp_um")
    },

    // Corpus DRIFT between two snapshots (split deterministically by
    // md5(text) so the report is replayable): top-20 words by absolute
    // unigram-probability shift in ppm — the retraining-trigger
    // monitoring surface. All-integer rank key (floor-division ppm),
    // (drift DESC, word) total order.
    "doc_corpus_drift" -> QueryDef(CORPUS_DRIFT_SQL) { (s, dir) =>
      TA.corpusDrift(Tables.documents(s, dir), col("text"),
        substring(md5(col("text")), 1, 6) >= Sampling.hashBound(0.5),
        topK = 20)
    },

    // The drift monitor on the STREAMING engine: the NEW snapshot's
    // word counts accumulate in the state store (vocabCountStream —
    // the heavy-hitters execution shape, vocab-sized state sharded by
    // word), the OLD snapshot's counts are a batch frame, and the
    // shared driftReport tail fuses them post-drain (full outer,
    // absentees 0). SAME single-sourced SQL as doc_corpus_drift: the
    // arrival engine must not change the report.
    "doc_corpus_drift_stream" -> QueryDef(CORPUS_DRIFT_SQL) { (s, dir) =>
      val bound = Sampling.hashBound(0.5)
      val oldCnt = Tables.documents(s, dir)
        .filter(substring(md5(col("text")), 1, 6) < bound)
        .select(explode(TA.words(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c_old"))
      val newCnt = Streaming.runAvailableNow(
          Streaming.vocabCountStream(
            Streaming.documentsStream(s, dir)
              .filter(substring(md5(col("text")), 1, 6) >= bound),
            col("text")),
          rocksdbState = true, // word state grows with the corpus
          statePartitions = Streaming.corpusStateShards(s,
            s"$dir/documents.parquet"))
        .withColumnRenamed("cnt", "c_new")
      TA.driftReport(
        oldCnt.join(newCnt, Seq("word"), "full_outer")
          .select(col("word"),
            coalesce(col("c_old"), lit(0L)).as("c_old"),
            coalesce(col("c_new"), lit(0L)).as("c_new")),
        topK = 20)
    },

    // Boilerplate passage stripping (CCNet-style): 10-word
    // non-overlapping passages; a passage appearing in >= 3 DISTINCT
    // documents is chrome/footer boilerplate and every occurrence is
    // dropped; documents are rebuilt from survivors. At sf0.01 the
    // rule fires on 15 distinct passages / 54 occurrences (probed).
    // Scale shape: the df agg ships 40-byte (digest, doc_id) pairs,
    // the surviving-df digest set is broadcast for flagging, and only
    // surviving bodies reach the reconstruction shuffle.
    "doc_boilerplate_strip" -> QueryDef(BOILERPLATE_SQL) { (s, dir) =>
      Dedup.boilerplateStrip(Tables.documents(s, dir), col("text"),
        col("doc_id"), size = 10, minDf = 3)
    },

    // Streaming twin: the df pass runs in the STREAMING engine — per
    // passage digest the state store holds the capped distinct-doc
    // set (saturates at minDf = 24 B/digest + the 32 B key), drained
    // with AvailableNow; the rebuild composes batch-side against the
    // drained digest verdicts. Same single-sourced SQL: the arrival
    // engine must not change what counts as boilerplate.
    "doc_boilerplate_stream" -> QueryDef(BOILERPLATE_SQL) { (s, dir) =>
      val drained = Streaming.runAvailableNow(
        Streaming.boilerplateDfStream(Streaming.documentsStream(s, dir),
          col("text"), col("doc_id"), size = 10, minDf = 3),
        rocksdbState = true, // state is passage-cardinality: corpus-sized
        statePartitions = Streaming.corpusStateShards(s,
          s"$dir/documents.parquet"))
      Dedup.boilerplateStripAgainst(Tables.documents(s, dir), col("text"),
        col("doc_id"), size = 10,
        drained.filter(col("df_capped") >= 3).select(col("digest")))
    },

    // Model-based quality filter (DCLM / fastText classifier shape):
    // a linear probe trained on a 60% md5-hash seed (label: lang='en'
    // as the curated-domain proxy) scores EVERY doc; keep at
    // predicted >= 0.5. The fit is one exact-integer treeAggregate +
    // BigInt Cramer solve to integer MICRO weights — the oracle
    // replays the whole thing (normal equations, adjugate, det,
    // sign-factored truncating division, affine scoring) in HUGEINT
    // SQL; scoring is a zero-shuffle codegen'd affine map.
    "doc_model_quality" -> QueryDef(
      s"""WITH src AS (SELECT doc_id, text AS t, lang FROM documents),
         |${modelQualityCtes("src")}
         |SELECT * FROM scored""".stripMargin) { (s, dir) =>
      TA.modelQualityScores(Tables.documents(s, dir), col("text"),
        col("doc_id"), (col("lang") === "en").cast("long"),
        seedBound = Sampling.hashBound(0.6))
    },

    // Streaming twin: the model is FIT OFFLINE on the batch seed
    // (the deployment shape — a quality classifier trains once, then
    // scores every arriving document), and the scoring affine map runs
    // in the STREAMING engine as a stateless codegen'd projection,
    // drained append-mode. Same single-sourced SQL: arrival engine
    // must not change scores or verdicts.
    "doc_model_quality_stream" -> QueryDef(
      s"""WITH src AS (SELECT doc_id, text AS t, lang FROM documents),
         |${modelQualityCtes("src")}
         |SELECT * FROM scored""".stripMargin) { (s, dir) =>
      val bound = Sampling.hashBound(0.6)
      val batchFeats = TA.modelFeatures(Tables.documents(s, dir),
        col("text"), col("doc_id"), (col("lang") === "en").cast("long"), bound)
      val w = graft.consumers.Trainer.fitExactMicros(
        batchFeats.filter(col("is_seed")), Seq("n_words", "n_distinct"), "y")
      Streaming.runAvailableNow(
        TA.modelApplyWeights(
          TA.modelFeatures(Streaming.documentsStream(s, dir), col("text"),
            col("doc_id"), (col("lang") === "en").cast("long"), bound),
          w, 500000L))
    },

    // HTML -> text extraction (trafilatura-lite): each doc is wrapped
    // in deterministic markup (nav chrome, a script block whose
    // CONTENTS must die with it, attributes, entities incl. the
    // &amp;lt; double-decode trap) and the extractor must recover
    // text-equivalent content: strip blocks, strip tags, decode
    // entities in the safe order, collapse whitespace. The oracle
    // replays the identical RE2-safe chain; `clean` is compared
    // verbatim and `roundtrip` proves extraction recovered the
    // original text exactly for every row.
    "doc_html_extract" -> QueryDef(
      """WITH aug AS (
        |  SELECT doc_id, text,
        |    '<html><body class="x"><nav id="n' || CAST(doc_id AS VARCHAR)
        |      || '">Home &amp;lt; Menu</nav><script type="text/javascript">var '
        |      || 'x = 1 &lt; 2;</script><p>' || text
        |      || '</p><br/><div data-k="&quot;v&#39;">&gt;</div></body></html>' AS h
        |  FROM documents),
        |ext AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(h, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |        '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM aug)
        |SELECT doc_id, clean,
        |  clean = 'Home &lt; Menu ' || trim(regexp_replace(text, '\s+', ' ', 'g'))
        |    || ' >' AS roundtrip
        |FROM ext""".stripMargin) { (s, dir) =>
      val h = concat(
        lit("<html><body class=\"x\"><nav id=\"n"), col("doc_id").cast("string"),
        lit("\">Home &amp;lt; Menu</nav><script type=\"text/javascript\">var "),
        lit("x = 1 &lt; 2;</script><p>"), col("text"),
        lit("</p><br/><div data-k=\"&quot;v&#39;\">&gt;</div></body></html>"))
      val clean = TA.htmlExtract(h)
      // attribute values live INSIDE tags — the &quot;v&#39; entity text
      // dies with the div tag; only its &gt; body survives
      val expected = concat(lit("Home &lt; Menu "),
        trim(regexp_replace(col("text"), "\\s+", " ")), lit(" >"))
      Tables.documents(s, dir).select(col("doc_id"), clean.as("clean"),
        (clean === expected).as("roundtrip"))
    },

    // CHECKSUM-VALIDATED PII: credit-card redaction with a Luhn
    // precision gate — a bare 16-digit regex flags order ids and
    // hashes; only Luhn-valid candidates are card-shaped. Each doc is
    // AUGMENTED with one VALID and one INVALID synthetic card built
    // from doc_id by the same integer arithmetic in both engines
    // (check digit from the Luhn-15 sum; the invalid twin shifts it
    // +5 mod 10), so the oracle proves the scrub fires on exactly the
    // valid one in every row — precision AND recall, per row.
    "doc_cc_audit" -> QueryDef(
      """WITH a AS (
        |  SELECT doc_id, text,
        |    lpad(CAST((doc_id*7919) % 1000000000000000 AS VARCHAR), 15, '0') AS p15
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, text, p15,
        |    list_sum(list_transform(range(1, 16), i ->
        |      CASE WHEN i % 2 = 1
        |        THEN CASE WHEN 2*CAST(substr(p15, i, 1) AS INT) > 9
        |          THEN 2*CAST(substr(p15, i, 1) AS INT) - 9
        |          ELSE 2*CAST(substr(p15, i, 1) AS INT) END
        |        ELSE CAST(substr(p15, i, 1) AS INT) END)) AS s15
        |  FROM a),
        |c AS (SELECT doc_id, text, p15, (10 - s15 % 10) % 10 AS chk FROM b),
        |d AS (SELECT doc_id,
        |    text || ' card ' || p15 || CAST(chk AS VARCHAR)
        |      || ' ref ' || p15 || CAST((chk + 5) % 10 AS VARCHAR) AS aug
        |  FROM c),
        |v AS (SELECT doc_id, aug,
        |    regexp_extract_all(aug, '[0-9]{16}') AS cands FROM d),
        |w AS (SELECT doc_id, aug, cands,
        |    list_filter(cands, cc -> list_sum(list_transform(range(1, 17), i ->
        |      CASE WHEN i % 2 = 1
        |        THEN CASE WHEN 2*CAST(substr(cc, i, 1) AS INT) > 9
        |          THEN 2*CAST(substr(cc, i, 1) AS INT) - 9
        |          ELSE 2*CAST(substr(cc, i, 1) AS INT) END
        |        ELSE CAST(substr(cc, i, 1) AS INT) END)) % 10 = 0) AS valids
        |  FROM v)
        |SELECT doc_id, CAST(len(cands) AS INT) AS n_cands,
        |  CAST(len(valids) AS INT) AS n_valid,
        |  list_reduce(list_prepend(aug, valids),
        |    (acc, cc) -> replace(acc, cc, '<CC>')) AS scrubbed
        |FROM w""".stripMargin) { (s, dir) =>
      val p15 = lpad(((col("doc_id") * 7919) % 1000000000000000L)
        .cast("string"), 15, "0")
      val s15 = aggregate(
        transform(split(p15, ""), (ch, i) => {
          val d = ascii(ch) - lit(48)
          when((i % 2) === 0,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        }), lit(0), (a, x) => a + x)
      val chk = (lit(10) - s15 % 10) % 10
      val aug = concat(col("text"), lit(" card "), p15, chk.cast("string"),
        lit(" ref "), p15, ((chk + 5) % 10).cast("string"))
      Tables.documents(s, dir).select(col("doc_id"),
        TA.ccCandidateCount(aug).as("n_cands"),
        TA.ccValidCount(aug).as("n_valid"),
        TA.scrubCc(aug).as("scrubbed"))
    },

    // Streaming FIXED-SIZE uniform sample — reservoir semantics made
    // deterministic: keep the k=50 documents with the SMALLEST
    // md5-prefix of their text (every doc equally likely under the
    // hash's uniformity, the hashSample argument at fixed size
    // instead of fixed rate). Capped-set insertion is
    // multiset-deterministic (TopCapAgg), so the drained sample is
    // independent of trigger slicing and arrival order — state is 16
    // bytes x 50 however large the corpus. The batch oracle is a
    // plain bottom-k window.
    "doc_sample_stream" -> QueryDef(
      """SELECT doc_id, lang, n_chars, rn FROM (
        |  SELECT doc_id, lang, n_chars, row_number() OVER (
        |    ORDER BY CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) ASC,
        |      doc_id ASC) AS rn
        |  FROM documents) t WHERE rn <= 50""".stripMargin) { (s, dir) =>
      val drained = Streaming.runAvailableNow(
        Streaming.sourceCapStream(
          Streaming.documentsStream(s, dir).withColumn("__g", lit("all")),
          col("__g"),
          -expr("CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT)"),
          col("doc_id"), cap = 50),
        // ONE group key ("all"): metadata-sized state, key-bound rule
        statePartitions = Some(8))
      Streaming.unpackTopCap(drained)
        .select(col("doc_id"), col("rn").cast("long").as("rn"))
        .join(Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rn"))
    },

    // Unigram-LM tokenizer training (SentencePiece shape, Kudo 2018):
    // substring seeding, 2 EM rounds of (Viterbi segmentation ->
    // piece recount -> prune), integer BIT-LENGTH scores throughout
    // (no float log anywhere — engine-exact). The oracle unrolls the
    // whole loop: per round a full Viterbi DP, position by position,
    // each dp table applying the same local tie rule as the Scala
    // fold. The harvest is distributed; the EM loop runs driver-side
    // over the maxVocab-capped word table (the bpeTrain defense:
    // metadata-sized, corpus-independent).
    "doc_unigram_vocab" -> QueryDef(
      s"""WITH ${unigramCtes(withFinalSeg = false)}
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS BIGINT) AS rank,
         |  piece, cnt,
         |  CAST(length(to_base(greatest(cnt, 1), 2)) AS BIGINT) AS bl
         |FROM uv$UniEmRounds""".stripMargin) { (s, dir) =>
      TA.unigramTrain(Tables.documents(s, dir), col("text"),
        UniPieceLen, UniSeedSize, UniVocabSize, UniEmRounds)
    },

    // Unigram ENCODE under the trained vocabulary: one more unrolled
    // Viterbi pass (tag F) segments every distinct word; per-doc code
    // points in vs unigram tokens out. The Spark side is ONE map-only
    // typed pass with the (piece -> bit-length) table broadcast.
    "doc_unigram_encode" -> QueryDef(
      s"""WITH ${unigramCtes(withFinalSeg = true)},
         |dw AS (SELECT doc_id, unnest(string_split(coalesce(lower(text), ''), ' ')) AS w
         |  FROM documents)
         |SELECT CAST(dw.doc_id AS BIGINT) AS doc_id, count(*) AS n_words,
         |  CAST(sum(length(dw.w)) AS BIGINT) AS n_cps,
         |  CAST(sum(coalesce(len(s.path), 0)) AS BIGINT) AS n_tokens
         |FROM dw LEFT JOIN usegF s ON dw.w = s.wk
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      TA.unigramEncodeStats(Tables.documents(s, dir), col("text"),
        col("doc_id"), UniPieceLen, UniSeedSize, UniVocabSize, UniEmRounds)
    },

    // Packing under the trained UNIGRAM tokenizer (the doc_pack_bpe
    // composition with the second tokenizer family): per-doc token
    // counts from the unigram encode, then the greedy 512-token
    // packer per lang — both stages their single-sourced replays
    // (the unrolled unigram chain's F segmentation + the recursive
    // (bin, fill) fold).
    "doc_pack_unigram" -> QueryDef(
      s"""WITH RECURSIVE ${unigramCtes(withFinalSeg = true)},
         |dw AS (SELECT doc_id, unnest(string_split(coalesce(lower(text), ''), ' ')) AS w
         |  FROM documents),
         |dt AS (SELECT CAST(dw.doc_id AS BIGINT) AS doc_id,
         |    CAST(sum(coalesce(len(s.path), 0)) AS BIGINT) AS n_tokens
         |  FROM dw LEFT JOIN usegF s ON dw.w = s.wk
         |  GROUP BY 1),
         |d AS (SELECT dt.doc_id, doc.lang, dt.n_tokens,
         |    row_number() OVER (PARTITION BY doc.lang ORDER BY dt.doc_id) AS rn
         |  FROM dt JOIN documents doc USING (doc_id)),
         |r AS (
         |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin,
         |    n_tokens AS bin_fill
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
         |         THEN r.bin + 1 ELSE r.bin END,
         |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
         |         THEN d.n_tokens ELSE r.bin_fill + d.n_tokens END
         |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
         |SELECT doc_id, lang, n_tokens, bin, bin_fill FROM r""".stripMargin) {
      (s, dir) =>
        val enc = TA.unigramEncodeStats(Tables.documents(s, dir),
          col("text"), col("doc_id"),
          UniPieceLen, UniSeedSize, UniVocabSize, UniEmRounds)
        val withLang = enc.select(col("doc_id"), col("n_tokens"))
          .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
          .select(col("doc_id"), col("lang"), col("n_tokens"))
        Sampling.packGreedy(withLang, "n_tokens", 512L, Seq("lang"), "doc_id")
    },

    // Packed bins MATERIALIZED as training sequences: each (lang, bin)
    // becomes one concatenated text (docs joined in pack order with an
    // <eos> separator) plus its token fill — the artifact a trainer
    // actually reads. Composition: the greedy pack fold -> per-bin
    // string aggregation (bin membership is pack-deterministic, so the
    // concat order is (doc_id) within the bin on both engines).
    "doc_pack_sequences" -> QueryDef(
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS bin,
        |    n_tokens AS bin_fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
        |         THEN r.bin + 1 ELSE r.bin END,
        |    CASE WHEN r.bin_fill > 0 AND r.bin_fill + d.n_tokens > 512
        |         THEN d.n_tokens ELSE r.bin_fill + d.n_tokens END
        |  FROM r JOIN d ON d.lang = r.lang AND d.rn = r.rn + 1)
        |SELECT r.lang, r.bin, count(*) AS n_docs,
        |  CAST(sum(r.n_tokens) AS BIGINT) AS seq_tokens,
        |  string_agg(doc.text, '<eos>' ORDER BY r.doc_id) AS sequence
        |FROM r JOIN documents doc USING (doc_id)
        |GROUP BY r.lang, r.bin""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val withTokens = docs.select(col("doc_id"), col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"))
      val packed = Sampling.packGreedy(withTokens, "n_tokens", 512L,
        Seq("lang"), "doc_id")
      packed.join(docs.select("doc_id", "text"), "doc_id")
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("seq_tokens"),
          array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => x.getField("text")), "<eos>").as("sequence"))
    },

    // Classifier EVALUATION — the confusion matrix of the quality
    // model on its HELD-OUT docs (non-seed rows the fit never saw):
    // exact integer counts per (y, keep) cell plus integer-ppm
    // precision/recall (floor division — no rounded-float metric can
    // flake the hash). The eval a pipeline runs before trusting a
    // filter, single-sourced on the same model CTEs.
    "doc_model_confusion" -> QueryDef(
      s"""WITH src AS (SELECT doc_id, text AS t, lang FROM documents),
         |${modelQualityCtes("src")},
         |held AS (SELECT y, keep FROM scored WHERE NOT is_seed),
         |cells AS (SELECT y, keep, count(*) AS n FROM held GROUP BY 1, 2),
         |tot AS (SELECT
         |    CAST(coalesce(sum(n) FILTER (y = 1 AND keep), 0) AS BIGINT) AS tp,
         |    CAST(coalesce(sum(n) FILTER (y = 0 AND keep), 0) AS BIGINT) AS fp,
         |    CAST(coalesce(sum(n) FILTER (y = 1 AND NOT keep), 0) AS BIGINT) AS fn,
         |    CAST(coalesce(sum(n) FILTER (y = 0 AND NOT keep), 0) AS BIGINT) AS tn
         |  FROM cells)
         |SELECT tp, fp, fn, tn,
         |  CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT) AS precision_ppm,
         |  CAST(tp * 1000000 // NULLIF(tp + fn, 0) AS BIGINT) AS recall_ppm
         |FROM tot""".stripMargin) { (s, dir) =>
      val scored = TA.modelQualityScores(Tables.documents(s, dir),
        col("text"), col("doc_id"), (col("lang") === "en").cast("long"),
        seedBound = Sampling.hashBound(0.6))
      scored.filter(!col("is_seed"))
        .agg(
          sum(when(col("y") === 1 && col("keep"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") === 0 && col("keep"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === 1 && !col("keep"), 1L).otherwise(0L)).as("fn"),
          sum(when(col("y") === 0 && !col("keep"), 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("tp * 1000000 div nullif(tp + fp, 0)").as("precision_ppm"),
          expr("tp * 1000000 div nullif(tp + fn, 0)").as("recall_ppm"))
    },

    // Composed WEB-CURATION pipeline (the RefinedWeb/DCLM sequencing):
    // boilerplate-strip every document, drop the pure-boilerplate
    // husks, then train-and-apply the model-based quality filter ON
    // THE CLEANED TEXT (chrome stripped before features — scoring raw
    // text would let navigation noise leak into n_words/n_distinct).
    // UNICODE NFC NORMALIZATION (r14): the canonicalization pass a
    // multilingual pipeline runs BEFORE any digest/shingle/signature
    // operator — U+0065 U+0301 and U+00E9 render identically and must
    // dedup identically. The ASCII corpus is made combining-mark-
    // bearing by a deterministic injection both engines replay
    // (every 'a' -> 'a' + U+0301, which NFC composes to U+00E1);
    // graft_nfc is a codegen'd Catalyst expression over
    // java.text.Normalizer, graded bit-for-bit against DuckDB's
    // utf8proc nfc_normalize — a genuine CROSS-LIBRARY differential:
    // two independent Unicode implementations must agree on every
    // byte of every normalized doc (md5) and every codepoint count.
    "doc_nfc_normalize" -> QueryDef(
      """SELECT doc_id,
        |  md5(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
        |    AS norm_md5,
        |  length(replace(text, 'a', 'a' || chr(769))) AS n_injected,
        |  length(nfc_normalize(replace(text, 'a', 'a' || chr(769))))
        |    AS n_normalized,
        |  nfc_normalize(replace(text, 'a', 'a' || chr(769)))
        |    != replace(text, 'a', 'a' || chr(769)) AS changed
        |FROM documents""".stripMargin) { (s, dir) =>
      graft.functions.TextExpressions.register(s)
      import graft.functions.TextExpressions.nfc_normalize
      val injected = call_function("replace", col("text"), lit("a"),
        lit("a\u0301"))
      // normalizer cost is per-BYTE real work and the grading corpus
      // is one scan partition — spread first (the r13 decode-map rule)
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"),
        md5(nfc_normalize(injected).cast("binary")).as("norm_md5"),
        length(injected).cast("long").as("n_injected"),
        length(nfc_normalize(injected)).cast("long").as("n_normalized"),
        (nfc_normalize(injected) =!= injected).as("changed"))
    },

    // ACCENT-INSENSITIVE DEDUP KEY (r14): the use the normalizers
    // exist for — an exact-dedup keep-list whose digest is computed
    // over the accent-FOLDED text (NFD -> drop combining marks ->
    // NFC), so copies differing only in diacritics land in one group.
    // The corpus (distinct ASCII texts, no exact dups) is made
    // adversarial by UNIONING an accent-injected copy of itself (ids
    // +1e6): every original must absorb its accented twin — keeper =
    // the original, n_dups = 2 for every group — which happens ONLY
    // if graft_strip_accents removes EXACTLY the injected marks and
    // reproduces the pre-injection bytes. Null text folds to a
    // sentinel key (total function — the join never drops docs).
    "doc_accent_fold" -> QueryDef(
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, replace(text, 'a', 'a' || chr(769))
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    coalesce(md5(strip_accents(nfc_normalize(text))), 'NULL') AS k
        |  FROM c),
        |g AS (SELECT k, min(doc_id) AS keeper, count(*) AS n
        |  FROM f GROUP BY k)
        |SELECT f.doc_id, f.k AS fold_md5, f.doc_id = g.keeper AS keep,
        |  g.n AS n_dups
        |FROM f JOIN g ON f.k = g.k""".stripMargin) { (s, dir) =>
      graft.functions.TextExpressions.register(s)
      import graft.functions.TextExpressions.{nfc_normalize, strip_accents}
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      val c = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          call_function("replace", col("text"), lit("a"),
            lit("a\u0301")).as("text")))
      val f = c.select(col("doc_id"),
        coalesce(md5(strip_accents(nfc_normalize(col("text")))
          .cast("binary")), lit("NULL")).as("k"))
      // ONE pass over the fold: a key-partitioned window instead of
      // the agg+self-join (which re-evaluated the normalizer chain on
      // both sides — measured 2x the fold cost at sf1eq)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      f.select(col("doc_id"), col("k").as("fold_md5"),
        (col("doc_id") === min("doc_id").over(w)).as("keep"),
        count(lit(1)).over(w).as("n_dups"))
    },

    // CASE-INSENSITIVE DEDUP KEY (r15): the third canonicalization of
    // the normalizer family (nfc -> strip_accents -> lower), graded
    // with the doc_accent_fold absorb discipline: two corpus legs that
    // differ ONLY in case must fold together. Leg 1 injects lowercase
    // ä (chr 228) for 'a' and plain i for 'o'; leg 2 (ids +1e6)
    // injects uppercase Ä (196) and DOTTED CAPITAL İ (304) — the
    // adversarial pick: graft_lower and DuckDB lower both map İ to
    // plain i (per-codepoint SIMPLE lowercase), while Spark's builtin
    // lower() takes the String.toLowerCase full-mapping path and emits
    // i + COMBINING DOT ABOVE — a builtin-backed fold would
    // hash-mismatch every İ-bearing group, so the custom expression is
    // provably load-bearing. Absorb happens ONLY if every injected
    // uppercase folds to leg 1's exact bytes.
    "doc_case_fold" -> QueryDef(
      """WITH c AS (
        |  SELECT doc_id,
        |    replace(replace(text, 'a', chr(228)), 'o', 'i') AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    replace(replace(text, 'a', chr(196)), 'o', chr(304)) AS text
        |  FROM documents),
        |f AS (SELECT doc_id, coalesce(md5(lower(text)), 'NULL') AS k
        |  FROM c),
        |g AS (SELECT k, min(doc_id) AS keeper, count(*) AS n
        |  FROM f GROUP BY k)
        |SELECT f.doc_id, f.k AS fold_md5, f.doc_id = g.keeper AS keep,
        |  g.n AS n_dups
        |FROM f JOIN g ON f.k = g.k""".stripMargin) { (s, dir) =>
      graft.functions.TextExpressions.register(s)
      import graft.functions.TextExpressions.codepoint_lower
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      def rep(c: org.apache.spark.sql.Column, from: String, to: String) =
        call_function("replace", c, lit(from), lit(to))
      val c = docs.select(col("doc_id"),
          rep(rep(col("text"), "a", "\u00E4"), "o", "i").as("text"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          rep(rep(col("text"), "a", "\u00C4"), "o", "\u0130").as("text")))
      val f = c.select(col("doc_id"),
        coalesce(md5(codepoint_lower(col("text")).cast("binary")),
          lit("NULL")).as("k"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      f.select(col("doc_id"), col("k").as("fold_md5"),
        (col("doc_id") === min("doc_id").over(w)).as("keep"),
        count(lit(1)).over(w).as("n_dups"))
    },

    // THE FULL CANONICAL KEY (r15): the three normalizers composed in
    // pipeline order — NFC, then accent strip, then simple lowercase —
    // as ONE dedup key, graded by a four-leg absorb: the original
    // corpus plus an accent-injected twin (+1e6: a -> a + combining
    // acute; nfc composes it, strip removes it), a case-injected twin
    // (+2e6: e -> E; lower restores it), and a COMBINED twin (+3e6:
    // a -> Ä and e -> E — Ä exercises all three passes on one
    // character: NFD splits to A + umlaut(Mn), strip drops the mark,
    // lower folds the A). Every original must absorb all three twins:
    // keeper = original, n_dups = 4 per group, which holds only if
    // each pass reproduces the exact pre-injection bytes AND the
    // composition order is right (strip before lower is safe either
    // way here, but lower-before-nfc would break the +1e6 leg on
    // any uppercase base letter carrying the mark).
    "doc_canonical_key" -> QueryDef(
      """WITH c AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, replace(text, 'a', 'a' || chr(769))
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, replace(text, 'e', 'E')
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    replace(replace(text, 'a', chr(196)), 'e', 'E')
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    coalesce(md5(lower(strip_accents(nfc_normalize(text)))),
        |      'NULL') AS k
        |  FROM c),
        |g AS (SELECT k, min(doc_id) AS keeper, count(*) AS n
        |  FROM f GROUP BY k)
        |SELECT f.doc_id, f.k AS fold_md5, f.doc_id = g.keeper AS keep,
        |  g.n AS n_dups
        |FROM f JOIN g ON f.k = g.k""".stripMargin) { (s, dir) =>
      graft.functions.TextExpressions.register(s)
      import graft.functions.TextExpressions.{codepoint_lower,
        nfc_normalize, strip_accents}
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      def rep2(c: org.apache.spark.sql.Column, from: String, to: String) =
        call_function("replace", c, lit(from), lit(to))
      val c = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          rep2(col("text"), "a", "a\u0301").as("text")))
        .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
          rep2(col("text"), "e", "E").as("text")))
        .unionByName(docs.select((col("doc_id") + 3000000L).as("doc_id"),
          rep2(rep2(col("text"), "a", "\u00C4"), "e", "E").as("text")))
      val f = c.select(col("doc_id"),
        coalesce(md5(codepoint_lower(strip_accents(nfc_normalize(
          col("text")))).cast("binary")), lit("NULL")).as("k"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      f.select(col("doc_id"), col("k").as("fold_md5"),
        (col("doc_id") === min("doc_id").over(w)).as("keep"),
        count(lit(1)).over(w).as("n_dups"))
    },

    // Both stages are their single-sourced CTE chains, so the
    // composition cannot drift from its parts.
    "doc_pipeline_web" -> QueryDef(
      s"""WITH $BOILERPLATE_CTES,
         |src AS (SELECT st.doc_id, st.clean_text AS t, d.lang
         |  FROM stripped st JOIN documents d USING (doc_id)
         |  WHERE st.n_kept > 0),
         |${modelQualityCtes("src")}
         |SELECT sc.doc_id, st.n_kept, st.n_boiler, sc.n_words,
         |  sc.score_micro, sc.keep
         |FROM scored sc JOIN stripped st USING (doc_id)""".stripMargin) {
      (s, dir) =>
        val stripped = Dedup.boilerplateStrip(Tables.documents(s, dir),
            col("text"), col("doc_id"), size = 10, minDf = 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cleaned = stripped.filter(col("n_kept") > 0)
          .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
        TA.modelQualityScores(cleaned, col("clean_text"), col("doc_id"),
            (col("lang") === "en").cast("long"),
            seedBound = Sampling.hashBound(0.6))
          .join(stripped.select("doc_id", "n_kept", "n_boiler"), "doc_id")
          .select(col("doc_id"), col("n_kept"), col("n_boiler"),
            col("n_words"), col("score_micro"), col("keep"))
    })
}
