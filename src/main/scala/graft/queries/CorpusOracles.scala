package graft.queries

import graft.QueryDef

/** The corpus (training-data-pipeline) queries and the later star
  * queries, each registered with its DuckDB oracle SQL.
  *
  * Every expression mirrors the Spark query's arithmetic exactly —
  * md5-derived integer hashes, sequential double folds, identical
  * operation order — so results hash-match bit-for-bit (verified for the
  * float folds: DuckDB `list_sum`/`list_transform` and Spark
  * `aggregate`/`zip_with` produce identical IEEE sequences).
  */
object CorpusOracles {

  /** 56-bit md5 hash — DuckDB twin of TextFunctions.md5Hash56. */
  private def md5h56(x: String): String =
    s"((('0x'||substr(md5($x),1,7))::BIGINT << 28) + ('0x'||substr(md5($x),8,7))::BIGINT)"

  /** Sequential-fold cosine similarity over 64-dim float lists — DuckDB
    * twin of Vectors.cosine (same left-fold order, double accumulation). */
  private def cosine(a: String, b: String): String = cosineD(a, b, 64)

  /** Cosine over the first `d` components only (the full-width twin when
    * d=64; the matryoshka-truncation twin otherwise). */
  private def cosineD(a: String, b: String, d: Int): String =
    s"""list_sum(list_transform(range(1,${d + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
       (sqrt(list_sum(list_transform(range(1,${d + 1}), i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) *
        sqrt(list_sum(list_transform(range(1,${d + 1}), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))"""

  /** Distinct word-n-gram shingles per doc — DuckDB twin of
    * NearDup.shingles. */
  private def shingleCteN(n: Int): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh0 AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(range(0, greatest(len(w)-$n,0)+1),
                        i -> array_to_string(w[i+1:i+$n], ' '))) AS shingle
               FROM toks),
       sh AS (SELECT doc_id, shingle FROM sh0 WHERE length(shingle) > 0)"""

  private val shingleCte = shingleCteN(3)

  /** Mutual-5-NN graph CTEs (twin of AnnSearch.mutualKnnGraph, k=5),
    * ending in `e`(vec_a < vec_b) — shared by the q131/q139 family. */
  private lazy val mutual5Ctes: String =
    s"""p AS MATERIALIZED (SELECT a.vec_id AS ida, b.vec_id AS idb,
             ${cosine("a.embedding", "b.embedding")} AS sim
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
       d AS (SELECT ida AS src, idb AS dst, sim FROM p
             UNION ALL SELECT idb, ida, sim FROM p),
       r AS (SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
             FROM d),
       kk AS MATERIALIZED (SELECT src, dst FROM r WHERE rnk <= 5),
       e AS MATERIALIZED (SELECT a.src AS vec_a, a.dst AS vec_b
             FROM kk a JOIN kk b ON a.src = b.dst AND a.dst = b.src
             WHERE a.src < a.dst)"""

  /** Unrolled deterministic Lloyd k-means (twin of KMeansExact.lloyd,
    * k=8): `rounds` assignment+fixed-point-update rounds from lowest-id
    * seeds, ending in a CTE `fin`(vec_id, centroid_id, csim) holding the
    * final cosine-argmax assignment; `finalSelect` reads from it. */
  private def kmeansOracle(rounds: Int, finalSelect: String): String = {
    def assignRn(cents: String) =
      s"""SELECT e.vec_id, c.cid, ${cosine("c.cvec", "e.embedding")} AS csim,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosine("c.cvec", "e.embedding")} DESC, c.cid) AS rn
          FROM embeddings e CROSS JOIN $cents c"""
    def update(asg: String, m: String, c: String) =
      s"""$m AS (SELECT a.cid, cl.dim,
              sum(CAST(floor(cl.v * 1000000000.0) AS BIGINT)) AS ss,
              count(*) AS n
            FROM $asg a JOIN cells cl USING (vec_id) GROUP BY 1, 2),
          $c AS (SELECT cid,
              list((ss::DOUBLE / 1000000000.0) / n::DOUBLE ORDER BY dim) AS cvec
            FROM $m GROUP BY cid)"""
    val chain = (1 to rounds).map { i =>
      s"""a${i - 1} AS (SELECT vec_id, cid FROM (${assignRn(s"c${i - 1}")}) WHERE rn = 1),
         ${update(s"a${i - 1}", s"m$i", s"c$i")}"""
    }.mkString(",\n")
    s"""WITH cells AS (SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
                       FROM embeddings, range(1, 65) t(i)),
       c0 AS (SELECT vec_id AS cid, embedding AS cvec
              FROM embeddings ORDER BY vec_id LIMIT 8),
       $chain,
       fin AS (SELECT vec_id, cid AS centroid_id, csim
               FROM (${assignRn(s"c$rounds")}) WHERE rn = 1)
       $finalSelect"""
  }

  /** All-pairs n-gram Jaccard at `threshold` over the hashed shingle
    * space — oracle for both the exact pairs query and the MinHash+LSH
    * query (LSH recall at the data's observed pair similarities is 1 up
    * to ~1e-8). Applies the identical 55-bit md5 hash the Spark operator
    * joins on, so results are equal by construction even at collisions. */
  private def jaccardPairs(threshold: Double): String =
    jaccardPairsN(3, threshold)

  private def jaccardPairsN(n: Int, threshold: Double): String =
    s"""WITH ${shingleCteN(n)},
       shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h FROM sh),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
             FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
       sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1)
       SELECT doc_a, doc_b, nc::DOUBLE/(sa.n + sb.n - nc) AS jaccard
       FROM p JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       WHERE nc::DOUBLE/(sa.n + sb.n - nc) >= $threshold
       ORDER BY doc_a, doc_b"""

  private val tokenCount = "(length(text) - length(replace(text, ' ', '')) + 1)"
  private val meanTokLen =
    s"((length(text) - ($tokenCount - 1))::DOUBLE / $tokenCount)"

  /** Twin of TextFunctions.qualityScore — shared by q27 and the q82
    * curation chain. */
  private lazy val qualityExpr =
    s"""(CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.5 END)
        * (1.0 - least(length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE * 10.0, 1.0))
        * (CASE WHEN $meanTokLen >= 3.0 AND $meanTokLen <= 10.0 THEN 1.0 ELSE 0.5 END)"""

  /** Per-lang marker-hit sums + argmax — twin of TextFunctions.langId. */
  /** CTE chain ending in `pred`(doc_id, lang_pred) — shared by the
    * plain langid twin (q26) and the X151 eval twin (q165). */
  private val langPredCtes: String = {
    val markers = graft.functions.TextFunctions.langMarkers
    val scores = markers.map { case (lang, words) =>
      val hits = words
        .map(w => s"len(list_filter(string_split(text, ' '), t -> t = '$w'))::BIGINT")
        .mkString(" + ")
      s"($hits) AS s_$lang"
    }.mkString(", ")
    val best = markers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = markers.map { case (l, _) =>
      s"WHEN s_$l > 0 AND s_$l = best THEN '$l'"
    }.mkString(" ")
    s"""s AS (SELECT doc_id, $scores FROM documents),
       b AS (SELECT doc_id, *, $best AS best FROM s),
       pred AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM b)"""
  }

  private val langIdSql: String =
    s"""WITH $langPredCtes
       SELECT doc_id, lang_pred FROM pred ORDER BY doc_id"""

  /** 32-bit SimHash fingerprints — twin of NearDup.simhash(bits=32). */
  private val simhashCte: String = {
    val votes = (0 until 32)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val fp = (0 until 32)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       th AS (SELECT doc_id, ${md5h56("t")} AS h FROM tok),
       v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       fp AS (SELECT doc_id, ($fp)::BIGINT AS simhash FROM v)"""
  }

  /** Twin of Multimodal.synthPixel + imagePerceptualHash: replays the
    * 32×32 synthetic grayscale raster (pure doc_id arithmetic — PNG is
    * lossless so the engine's real encode/decode round trip preserves
    * it exactly), the 8×8 block-mean grid and global mean (floor
    * divisions), and both 56-bit hashes (bit r·7+c, so every value is
    * a non-negative BIGINT). Exposes `ph` with (doc_id, ahash, dhash). */
  private val imagePHashCtes: String =
    s"""ids AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS seed,
           (doc_id % 10 = 1) AS pert
         FROM documents),
       par AS (SELECT doc_id, seed % 7 + 1 AS a, seed % 11 + 2 AS b,
                      seed % 251 AS c, pert
               FROM ids),
       cell AS (SELECT p.doc_id, r.r, cc.cc,
           (sum(CASE WHEN p.pert AND cc.cc*4+dx.dx < 4 AND r.r*4+dy.dy < 4
                THEN (((cc.cc*4+dx.dx+1) * (r.r*4+dy.dy+3) * p.a
                       + p.b*(cc.cc*4+dx.dx) + p.c) % 256 + 128) % 256
                ELSE ((cc.cc*4+dx.dx+1) * (r.r*4+dy.dy+3) * p.a
                      + p.b*(cc.cc*4+dx.dx) + p.c) % 256 END)
            // 16)::BIGINT AS g
         FROM par p, generate_series(0,7) r(r), generate_series(0,7) cc(cc),
              generate_series(0,3) dx(dx), generate_series(0,3) dy(dy)
         GROUP BY 1, 2, 3),
       m AS (SELECT doc_id, (sum(g) // 64)::BIGINT AS mean FROM cell GROUP BY 1),
       ph AS (SELECT c.doc_id,
           sum(CASE WHEN c.g > m.mean THEN (1::BIGINT << (c.r*7 + c.cc))
               ELSE 0 END)::BIGINT AS ahash,
           sum(CASE WHEN c.g > n.g THEN (1::BIGINT << (c.r*7 + c.cc))
               ELSE 0 END)::BIGINT AS dhash
         FROM cell c
         JOIN m ON m.doc_id = c.doc_id
         JOIN cell n ON n.doc_id = c.doc_id AND n.r = c.r AND n.cc = c.cc + 1
         WHERE c.cc < 7
         GROUP BY 1)"""

  /** The synthetic grayscale pixel ([[graft.operators.Multimodal
    * .synthPixel]]) as SQL, parameterized over the x/y expressions;
    * expects an alias `p` exposing (a, b, c, pert). */
  private def synthPxSql(x: String, y: String): String =
    s"""CASE WHEN p.pert AND ($x) < 4 AND ($y) < 4
        THEN (((($x)+1) * (($y)+3) * p.a + p.b*($x) + p.c) % 256 + 128) % 256
        ELSE ((($x)+1) * (($y)+3) * p.a + p.b*($x) + p.c) % 256 END"""

  /** q209 twin core: per-(doc, frame) hash replay of the synthVideo
    * container — frame f of doc d uses pattern seed seed0·8+f (seed0 =
    * d−1 when d%10==1, else d; frame 0 of a %10==1 doc perturbed), so
    * the whole demux+decode+hash chain reduces to (doc_id, frame_no)
    * arithmetic. Exposes `fph` with (doc_id, frame_no, ahash, dhash). */
  private val framePHashCtes: String =
    s"""vids AS (SELECT doc_id, 1 + doc_id % 3 AS nf,
           CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS seed0,
           (doc_id % 10 = 1) AS pert0
         FROM documents),
       fids AS (SELECT doc_id, f.f AS frame_no, seed0 * 8 + f.f AS seed,
                       (pert0 AND f.f = 0) AS pert
                FROM vids, generate_series(0, 2) f(f) WHERE f.f < nf),
       fpar AS (SELECT doc_id, frame_no, seed % 7 + 1 AS a,
                       seed % 11 + 2 AS b, seed % 251 AS c, pert
                FROM fids),
       fcell AS (SELECT p.doc_id, p.frame_no, r.r, cc.cc,
           (sum(${synthPxSql("cc.cc*4+dx.dx", "r.r*4+dy.dy")}) // 16)::BIGINT AS g
         FROM fpar p, generate_series(0,7) r(r), generate_series(0,7) cc(cc),
              generate_series(0,3) dx(dx), generate_series(0,3) dy(dy)
         GROUP BY 1, 2, 3, 4),
       fm AS (SELECT doc_id, frame_no, (sum(g) // 64)::BIGINT AS mean
              FROM fcell GROUP BY 1, 2),
       fph AS (SELECT c.doc_id, c.frame_no,
           sum(CASE WHEN c.g > m.mean THEN (1::BIGINT << (c.r*7 + c.cc))
               ELSE 0 END)::BIGINT AS ahash,
           sum(CASE WHEN c.g > n.g THEN (1::BIGINT << (c.r*7 + c.cc))
               ELSE 0 END)::BIGINT AS dhash
         FROM fcell c
         JOIN fm m ON m.doc_id = c.doc_id AND m.frame_no = c.frame_no
         JOIN fcell n ON n.doc_id = c.doc_id AND n.frame_no = c.frame_no
              AND n.r = c.r AND n.cc = c.cc + 1
         WHERE c.cc < 7
         GROUP BY 1, 2)"""

  /** q210 twin core: the REAL resize replayed in two integer-floor
    * stages — resized pixel v(x2,y2) = floor(2×2 original block mean),
    * then the 16×16 image's 8×8 grid cell = floor(2×2 resized mean) —
    * floors of floors, exactly the engine's decode→decimate→re-encode→
    * re-decode→hash chain (PNG lossless at both hops). Reuses `ids`/
    * `par` from [[imagePHashCtes]]'s prefix (re-declared standalone
    * here); exposes `rph` with (doc_id, ahash, dhash). */
  private val resizePHashCtes: String =
    s"""ids AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS seed,
           (doc_id % 10 = 1) AS pert
         FROM documents),
       par AS (SELECT doc_id, seed % 7 + 1 AS a, seed % 11 + 2 AS b,
                      seed % 251 AS c, pert
               FROM ids),
       rpx AS (SELECT p.doc_id, x2.x2, y2.y2,
           (sum(${synthPxSql("x2.x2*2+dx.dx", "y2.y2*2+dy.dy")}) // 4)::BIGINT AS v
         FROM par p, generate_series(0,15) x2(x2), generate_series(0,15) y2(y2),
              generate_series(0,1) dx(dx), generate_series(0,1) dy(dy)
         GROUP BY 1, 2, 3),
       rcell AS (SELECT doc_id, y2 // 2 AS r, x2 // 2 AS cc,
                        (sum(v) // 4)::BIGINT AS g
                 FROM rpx GROUP BY 1, 2, 3),
       rm AS (SELECT doc_id, (sum(g) // 64)::BIGINT AS mean
              FROM rcell GROUP BY 1),
       rph AS (SELECT c.doc_id,
           sum(CASE WHEN c.g > m.mean THEN (1::BIGINT << (c.r*7 + c.cc))
               ELSE 0 END)::BIGINT AS ahash,
           sum(CASE WHEN c.g > n.g THEN (1::BIGINT << (c.r*7 + c.cc))
               ELSE 0 END)::BIGINT AS dhash
         FROM rcell c
         JOIN rm m ON m.doc_id = c.doc_id
         JOIN rcell n ON n.doc_id = c.doc_id AND n.r = c.r AND n.cc = c.cc + 1
         WHERE c.cc < 7
         GROUP BY 1)"""

  /** q215 twin core: the acoustic fingerprint replayed from doc_id
    * arithmetic — triangle samples (seed0 convention, +500 transient on
    * the first 4 samples of %10==1 docs), 57 window energies via the
    * (j·57)//n cut, gradient-sign bits. All integer floors, matching
    * the engine's int16 round trip exactly (|samples| < 32768, so the
    * PCM encode is lossless). Exposes `afp` with (doc_id, fp). */
  private val audioFpCtes: String =
    s"""aids AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END AS seed,
           (doc_id % 10 = 1) AS pert
         FROM documents),
       apar AS (SELECT doc_id, 100 + seed % 157 AS n,
                       500 + (seed % 29) * 250 AS amp,
                       6 + seed % 23 AS period, pert
                FROM aids),
       asamp AS (SELECT doc_id, n, i.i AS i,
           (((CASE WHEN (i.i % period) < period // 2 THEN i.i % period
              ELSE period - i.i % period END) * 2 * amp) // period)
           * (CASE WHEN (i.i // period) % 2 = 0 THEN 1 ELSE -1 END)
           + (CASE WHEN pert AND i.i < 4 THEN 500 ELSE 0 END) AS s
         FROM apar, generate_series(0, 255) i(i) WHERE i.i < n),
       aen AS (SELECT doc_id, (i * 57) // n AS w, sum(s * s) AS e
               FROM asamp GROUP BY 1, 2),
       afp AS (SELECT a.doc_id,
           sum(CASE WHEN a.e > b.e THEN (1::BIGINT << a.w) ELSE 0 END)::BIGINT AS fp
         FROM aen a
         JOIN aen b ON b.doc_id = a.doc_id AND b.w = a.w + 1
         WHERE a.w < 56
         GROUP BY 1)"""

  private val multimodalSql =
    s"""WITH h AS (SELECT doc_id,
         octet_length(encode(text))::BIGINT AS n_bytes,
         md5(text) AS checksum, ${md5h56("text")} AS h FROM documents)
       SELECT doc_id, n_bytes, checksum,
              h % 640 + 64 AS width, h % 480 + 64 AS height, h % 30 + 1 AS n_frames
       FROM h ORDER BY doc_id"""

  /** Shared by q50/q105: min-reachable-label connected components over
    * the 0.5-Jaccard pair graph, as a recursive reachability CTE (UNION
    * dedup ⇒ guaranteed fixpoint; dup components are tiny so the reach
    * set stays small). Use under `WITH RECURSIVE`; exposes `r` with
    * (node, reach). */
  private def dupGroupCtes: String =
    s"""$shingleCte,
       shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h FROM sh),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
             FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
       sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
       pr AS (SELECT doc_a, doc_b
              FROM p JOIN sz sa ON doc_a = sa.doc_id
                     JOIN sz sb ON doc_b = sb.doc_id
              WHERE nc::DOUBLE/(sa.n + sb.n - nc) >= 0.5),
       e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
             UNION ALL SELECT doc_b, doc_a FROM pr),
       nodes AS (SELECT DISTINCT src AS node FROM e),
       r AS (SELECT node, node AS reach FROM nodes
             UNION
             SELECT e.src AS node, r.reach
             FROM e JOIN r ON r.node = e.dst)"""

  /** Shared by q106/q108: deterministic seed centroids (8 lowest
    * vec_ids) + nearest-centroid assignment over the embeddings table
    * (csim desc, centroid_id tiebreak) — twin of
    * `AnnSearch.assign(corpus, seedCentroids(corpus, 8))`. Exposes `asg`
    * with (vec_id, centroid_id, csim). */
  private def semAssignCtes: String =
    s"""cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
            FROM embeddings ORDER BY vec_id LIMIT 8),
       sc AS (SELECT e.vec_id, c.centroid_id,
                ${cosine("c.cvec", "e.embedding")} AS csim
              FROM embeddings e CROSS JOIN cents c),
       asg AS (SELECT vec_id, centroid_id, csim FROM (
                 SELECT vec_id, centroid_id, csim,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, centroid_id) AS rn
                 FROM sc) WHERE rn = 1)"""

  /** Shared by q103/q104/q111/q180: wordcount + `nRounds` unrolled
    * BYTE-level BPE merge rounds over `tokSql`'s word stream. Atoms are
    * UTF-8 bytes as 2-hex-digit symbols (both engines' `hex()` emits
    * identical uppercase hex for identical bytes, so the replay is
    * bit-for-bit); each round counts adjacent symbol pairs, picks the
    * deterministic argmax, and applies the merge as a chr(31)-delimited
    * string fold — greedy left-to-right, non-overlapping (a freshly
    * merged tail l||r can never equal l, so the fold cannot re-consume
    * its own output).
    *
    * Each round LEFT JOINs the word table to its (≤1-row) best-pair
    * table: on a corpus that exhausts early, b$i is EMPTY and a
    * plain cross join would empty w$i and cascade through
    * vocab/tokenization — the left join instead yields NULL l/r, the
    * CASE never fires, and syms pass through unchanged, matching
    * BpeTrain's stop-early-keep-table behavior. */
  private def bpeByteCtes(nRounds: Int, tokSql: String): String = {
    val rounds = (1 to nRounds).map { i =>
      s"""pc$i AS (SELECT syms[i] AS l, syms[i + 1] AS r, sum(wc) AS n
             FROM (SELECT wc, syms, unnest(range(1, len(syms))) AS i
                   FROM w${i - 1}) GROUP BY 1, 2),
         b$i AS (SELECT l, r, n FROM pc$i ORDER BY n DESC, l, r LIMIT 1),
         w$i AS (SELECT list_filter(string_split(
                   list_reduce(list_concat([''], syms), (acc, s) ->
                     CASE WHEN (string_split(acc, chr(31)))[-1] = b$i.l
                               AND s = b$i.r
                          THEN left(acc, len(acc) - len(b$i.l)) || b$i.l || b$i.r
                          ELSE acc || chr(31) || s END),
                   chr(31)), x -> x <> '') AS syms, wc
               FROM w${i - 1} LEFT JOIN b$i ON true)"""
    }.mkString(",\n")
    s"""toks AS ($tokSql),
       w0 AS (SELECT regexp_extract_all(hex(word), '..') AS syms,
                count(*) AS wc
              FROM toks WHERE word <> '' GROUP BY word),
       $rounds"""
  }

  /** The suite-standard tokenizer geometry: 5 byte-level rounds over
    * `documents.text`. */
  private def bpeTrainingCtes: String = bpeByteCtes(5,
    "SELECT unnest(string_split(text, ' ')) AS word FROM documents")

  // X91: incremental cross-snapshot dedup — new snapshot (src10+)
  // probed against the indexed corpus (src0–src9) on hashed shingles.
  // The SAME oracle also gates q120, the X101 STREAMING face of the
  // operator: per-doc verdicts depend only on (doc, index), never on
  // which micro-batch carried the doc, so batch and foreachBatch
  // compositions must produce identical tables.
  private val incrementalNearDupSql: String =
    s"""WITH $shingleCte,
       shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h FROM sh),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       srcn AS (SELECT doc_id, replace(source, 'src', '')::INT AS sn FROM documents),
       bsh AS (SELECT shh.doc_id, h FROM shh JOIN srcn USING (doc_id) WHERE sn >= 10),
       ish AS (SELECT shh.doc_id, h FROM shh JOIN srcn USING (doc_id) WHERE sn < 10),
       m AS (SELECT b.doc_id AS batch_id, i.doc_id AS index_id, count(*) AS nc
             FROM bsh b JOIN ish i ON b.h = i.h GROUP BY 1, 2),
       mj AS (SELECT batch_id, index_id,
                nc::DOUBLE/(sb.n + si.n - nc) AS jaccard
              FROM m JOIN sz sb ON batch_id = sb.doc_id
                     JOIN sz si ON index_id = si.doc_id
              WHERE nc::DOUBLE/(sb.n + si.n - nc) >= 0.5),
       v AS (SELECT batch_id AS doc_id, min(index_id) AS dup_of,
               count(*) AS n_matches, max(jaccard) AS best_jaccard
             FROM mj GROUP BY 1)
       SELECT d.doc_id, v.dup_of IS NOT NULL AS is_dup, v.dup_of,
              coalesce(v.n_matches, 0)::BIGINT AS n_matches, v.best_jaccard
       FROM (SELECT doc_id FROM srcn WHERE sn >= 10) d
       LEFT JOIN v USING (doc_id) ORDER BY d.doc_id"""

  /** The corpus queries and the later star queries (q182 on), each with
    * its oracle; [[graft.SparkEntry.registry]] lists them with the rest. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q24_dedup_exact", CorpusQueries.dedupExact(_, _),
      """SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
         FROM documents GROUP BY 1 ORDER BY 1"""),

    QueryDef("q25_text_stats", CorpusQueries.textStats(_, _),
      s"""SELECT doc_id,
          $tokenCount::BIGINT AS n_tokens,
          len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT AS n_words,
          length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::BIGINT AS n_punct,
          $meanTokLen AS mean_tok_len
          FROM documents ORDER BY doc_id"""),

    QueryDef("q26_lang_id", CorpusQueries.langId(_, _), langIdSql),

    QueryDef("q27_quality_score", CorpusQueries.quality(_, _),
      s"""SELECT doc_id, $qualityExpr AS quality
          FROM documents ORDER BY doc_id"""),

    QueryDef("q28_fingerprint", CorpusQueries.fingerprint(_, _),
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id"""),

    QueryDef("q29_ngram_jaccard", CorpusQueries.ngramJaccard(_, _), jaccardPairs(0.5)),

    QueryDef("q30_minhash_lsh", CorpusQueries.minhashLsh(_, _), jaccardPairs(0.8)),

    // X105: Broder'97 containment |A∩B|/|A| both directions + max —
    // the same exact all-pairs core as the Jaccard twin, different
    // post-arithmetic
    QueryDef("q121_containment", CorpusQueries.containmentNearDup(_, _),
      s"""WITH ${shingleCteN(3)},
         shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h FROM sh),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
               FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1)
         SELECT doc_a, doc_b,
                nc::DOUBLE / sa.n AS cont_a, nc::DOUBLE / sb.n AS cont_b,
                greatest(nc::DOUBLE / sa.n, nc::DOUBLE / sb.n) AS containment
         FROM p JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
         WHERE greatest(nc::DOUBLE / sa.n, nc::DOUBLE / sb.n) >= 0.6
         ORDER BY doc_a, doc_b"""),

    QueryDef("q31_simhash", CorpusQueries.simhash(_, _),
      s"WITH $simhashCte SELECT doc_id, simhash FROM fp ORDER BY doc_id"),

    QueryDef("q32_simhash_pairs", CorpusQueries.simhashPairs(_, _),
      s"""WITH $simhashCte
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
         ORDER BY doc_a, doc_b"""),

    QueryDef("q33_embed_neardup", CorpusQueries.embedNearDup(_, _),
      s"""WITH c AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            ${cosine("a.embedding", "b.embedding")} AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
          SELECT vec_a, vec_b, cos_sim FROM c WHERE cos_sim >= 0.4
          ORDER BY vec_a, vec_b"""),

    QueryDef("q34_ann_topk", CorpusQueries.annTopK(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
          s AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim FROM c, q),
          r AS (SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
                FROM s)
          SELECT query_id, vec_id, rnk, sim FROM r WHERE rnk <= 5
          ORDER BY query_id, rnk"""),

    QueryDef("q36_multimodal_meta", CorpusQueries.multimodalMeta(_, _), multimodalSql),

    QueryDef("q37_multimodal_features", CorpusQueries.multimodalFeatures(_, _), multimodalSql),

    QueryDef("q38_rolling_fp", CorpusQueries.rollingFingerprint(_, _),
      s"""SELECT doc_id,
          list_reduce(
            list_prepend(0::BIGINT,
              list_transform(string_split(text, ' '), t -> ${md5h56("t")})),
            (a, b) -> (a * 131 + b) & ${(1L << 47) - 1})::BIGINT AS rolling_fp
          FROM documents ORDER BY doc_id"""),

    QueryDef("q39_token_freq", CorpusQueries.tokenFreq(_, _),
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100"""),

    // (user_id, ts) pairs are unique in events, so ASOF's greatest-ts<=
    // match is unambiguous and equals the union+window implementation.
    QueryDef("q40_asof_join", CorpusQueries.asofJoin(_, _),
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, c.ts,
                p.ts AS last_purchase_ts, p.value AS last_purchase_value
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.event_id"""),

    QueryDef("q41_range_join", CorpusQueries.rangeJoin(_, _),
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
         j AS (SELECT p.event_id, count(*) AS n_clicks_1h, max(c.value) AS max_click_value
               FROM p JOIN c ON p.user_id = c.user_id
                 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
               GROUP BY 1)
         SELECT p.event_id, p.user_id, p.ts,
                coalesce(j.n_clicks_1h, 0) AS n_clicks_1h, j.max_click_value
         FROM p LEFT JOIN j USING (event_id) ORDER BY p.event_id"""),

    QueryDef("q42_sessionize", CorpusQueries.sessionize(_, _),
      """WITH l AS (SELECT user_id, ts,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events),
         g AS (SELECT user_id, ts,
                CAST(sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 14400 SECONDS
                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
              FROM l)
         SELECT user_id, session_seq, min(ts) AS session_start,
                max(ts) AS session_end, count(*) AS n_events
         FROM g GROUP BY 1, 2 ORDER BY user_id, session_start"""),

    // Approximate-operator gates: each query reduces its approximation to
    // a deterministic verdict the hash oracle can check — mean recall@k
    // over the query set vs a thresholded TRUE (q35/q49: thresholds carry
    // wide margin under the measured means, see CorpusQueries), and HLL
    // relative error vs the exact distinct (q44).
    QueryDef("q35_ann_ivf_topk", CorpusQueries.annIvfTopK(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
          s AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim
                FROM c, q),
          r AS (SELECT query_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
                FROM s),
          bf AS (SELECT query_id, rnk FROM r WHERE rnk <= 5)
          SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                 CAST(5 AS BIGINT) AS k,
                 count(*) = count(DISTINCT query_id) * 5 AS recall_ok
          FROM bf"""),

    QueryDef("q49_ann_lsh_topk", CorpusQueries.annLshTopK(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
          s AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim
                FROM c, q),
          r AS (SELECT query_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
                FROM s),
          bf AS (SELECT query_id, rnk FROM r WHERE rnk <= 5)
          SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                 CAST(5 AS BIGINT) AS k,
                 count(*) = count(DISTINCT query_id) * 5 AS recall_ok
          FROM bf"""),

    // X157: multi-probe LSH — same thresholded-recall verdict shape.
    // Like q35/q49, the twin derives the verdict THROUGH the
    // brute-force ranking (the work the engine's recall gate also
    // pays), so its wall-clock is an honest denominator — a constant
    // TRUE row made the recorded ratios meaningless (round-6 note)
    QueryDef("q169_ann_multiprobe", CorpusQueries.annMultiProbeTopK(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
          s AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim
                FROM c, q),
          r AS (SELECT query_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
                FROM s),
          bf AS (SELECT query_id, rnk FROM r WHERE rnk <= 5)
          SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                 CAST(5 AS BIGINT) AS k,
                 count(*) = count(DISTINCT query_id) * 5 AS recall_ok
          FROM bf"""),

    QueryDef("q44_approx_distinct", CorpusQueries.approxDistinct(_, _),
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_distinct_l_suppkey,
                TRUE AS approx_ok
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    QueryDef("q43_salted_collect", CorpusQueries.saltedCollect(_, _),
      """SELECT l_returnflag,
                array_to_string(list_sort(list(DISTINCT l_suppkey)), ',') AS suppkeys
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    QueryDef("q50_dup_groups", CorpusQueries.dupGroups(_, _),
      s"""WITH RECURSIVE $dupGroupCtes
         SELECT node AS doc_id, min(reach) AS group_id
         FROM r GROUP BY node ORDER BY doc_id"""),

    // X89: canonical keeper per near-dup cluster — keep the BEST doc
    // (quality argmax, doc_id tiebreak), not the arbitrary first
    QueryDef("q105_canonical_keeper", CorpusQueries.canonicalKeeper(_, _),
      s"""WITH RECURSIVE $dupGroupCtes,
         g AS (SELECT node AS doc_id, min(reach) AS group_id
               FROM r GROUP BY node),
         q AS (SELECT doc_id, $qualityExpr AS quality FROM documents),
         j AS (SELECT g.group_id, g.doc_id, q.quality,
                 row_number() OVER (PARTITION BY g.group_id
                                    ORDER BY q.quality DESC, g.doc_id) AS rn,
                 count(*) OVER (PARTITION BY g.group_id) AS group_size
               FROM g JOIN q USING (doc_id))
         SELECT group_id, doc_id AS keeper_id, quality,
                CAST(group_size AS BIGINT) AS group_size
         FROM j WHERE rn = 1 ORDER BY group_id"""),

    // X90: SemDeDup — deterministic seed centroids (8 lowest vec_ids),
    // nearest-centroid assignment (csim desc, centroid_id tiebreak),
    // within-cluster pairs at cosine >= 0.4, verdict per vector
    QueryDef("q106_semdedup", CorpusQueries.semDedup(_, _),
      s"""WITH $semAssignCtes,
         pe AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  ${cosine("ea.embedding", "eb.embedding")} AS cos_sim
                FROM asg a JOIN asg b
                  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
                JOIN embeddings ea ON ea.vec_id = a.vec_id
                JOIN embeddings eb ON eb.vec_id = b.vec_id),
         doms AS (SELECT vec_b AS vec_id, min(vec_a) AS dup_of,
                    count(*) AS n_dominators
                  FROM pe WHERE cos_sim >= 0.4 GROUP BY 1)
         SELECT asg.vec_id, asg.centroid_id,
                doms.dup_of IS NOT NULL AS is_dup, doms.dup_of,
                coalesce(doms.n_dominators, 0)::BIGINT AS n_dominators
         FROM asg LEFT JOIN doms ON asg.vec_id = doms.vec_id
         ORDER BY asg.vec_id"""),

    // X92: prototypicality pruning — cosine to the assigned centroid,
    // per-cluster rank (desc, vec_id tiebreak), integer keep rule
    QueryDef("q108_prototypicality", CorpusQueries.prototypicality(_, _),
      s"""WITH $semAssignCtes,
         r AS (SELECT vec_id, centroid_id, csim AS proto_score,
                 row_number() OVER (PARTITION BY centroid_id
                                    ORDER BY csim DESC, vec_id) AS proto_rank,
                 count(*) OVER (PARTITION BY centroid_id) AS n_cluster
               FROM asg)
         SELECT vec_id, centroid_id, proto_score,
                CAST(proto_rank AS BIGINT) AS proto_rank,
                CAST(n_cluster AS BIGINT) AS n_cluster,
                proto_rank * 5 > n_cluster AS keep
         FROM r ORDER BY vec_id"""),

    // X93: source-overlap duplication matrix — q29 pairs rolled up to
    // unordered source pairs; count/min/max aggregates only
    QueryDef("q109_source_overlap", CorpusQueries.sourceOverlap(_, _),
      s"""WITH $shingleCte,
         shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h FROM sh),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
               FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pj AS (SELECT doc_a, doc_b, nc::DOUBLE/(sa.n + sb.n - nc) AS jaccard
                FROM p JOIN sz sa ON doc_a = sa.doc_id
                       JOIN sz sb ON doc_b = sb.doc_id
                WHERE nc::DOUBLE/(sa.n + sb.n - nc) >= 0.5),
         ds AS (SELECT doc_id, source FROM documents),
         sp AS (SELECT least(a.source, b.source) AS source_a,
                  greatest(a.source, b.source) AS source_b, jaccard
                FROM pj JOIN ds a ON pj.doc_a = a.doc_id
                        JOIN ds b ON pj.doc_b = b.doc_id),
         m AS (SELECT source_a, source_b, count(*) AS n_pairs,
                 min(jaccard) AS min_jaccard, max(jaccard) AS max_jaccard
               FROM sp GROUP BY 1, 2),
         t AS (SELECT sum(n_pairs) AS total_pairs FROM m)
         SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs,
                n_pairs::DOUBLE / total_pairs::DOUBLE AS pair_share,
                min_jaccard, max_jaccard
         FROM m CROSS JOIN t ORDER BY source_a, source_b"""),

    // X94: hard-negative mining — q34's brute-force ranking restricted
    // to different-label corpus vectors
    QueryDef("q110_hard_negatives", CorpusQueries.hardNegatives(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
              FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
          s AS (SELECT query_id, vec_id, label AS neg_label,
                  ${cosine("qv", "embedding")} AS sim
                FROM c, q WHERE label != qlabel),
          r AS (SELECT query_id, vec_id, neg_label, sim,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
                FROM s)
          SELECT query_id, vec_id, neg_label, rnk, sim FROM r WHERE rnk <= 5
          ORDER BY query_id, rnk"""),

    QueryDef("q107_incremental_neardup", CorpusQueries.incrementalNearDedup(_, _),
      incrementalNearDupSql),
    QueryDef("q120_streaming_neardup", CorpusQueries.streamingNearDedup(_, _),
      incrementalNearDupSql),

    QueryDef("q53_hash_split", CorpusQueries.hashSplit(_, _),
      s"""WITH b AS (SELECT lang,
            (${md5h56("doc_id::VARCHAR")}) % 100 AS bucket FROM documents)
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                lang, count(*) AS n
         FROM b GROUP BY 1, 2 ORDER BY split, lang"""),

    QueryDef("q54_hash_shuffle", CorpusQueries.hashShuffle(_, _),
      s"""SELECT doc_id, ${md5h56("doc_id::VARCHAR")} AS h
         FROM documents ORDER BY h, doc_id LIMIT 100"""),

    // q56: the same hash-threshold membership the Spark side evaluates —
    // round() mirrors Sampling.keep's round(rate*Denom), so arbitrary
    // rates (not just integer-exact ones) stay engine-consistent
    QueryDef("q56_stratified_sample", CorpusQueries.stratifiedSample(_, _),
      s"""WITH k AS (SELECT lang, doc_id,
            (${md5h56("doc_id::VARCHAR")}) % 1000000 AS r FROM documents)
         SELECT lang, count(*) AS n_kept, min(doc_id) AS first_id
         FROM k
         WHERE r < CAST(round(CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0
                        ELSE 0.25 END * 1000000) AS BIGINT)
         GROUP BY lang ORDER BY lang"""),

    // q57: eval slice = md5(doc_id) % 20 == 0; shared distinct 4-grams per
    // corpus doc. Mirrors Contamination.overlapReport (same plain md5h56
    // shingle hash, distinct-per-doc shingles × distinct eval hashes).
    QueryDef("q57_decontaminate", CorpusQueries.decontaminate(_, _),
      s"""WITH ${shingleCteN(4)},
         shh AS (SELECT doc_id, ${md5h56("shingle")} AS h FROM sh),
         ev AS (SELECT DISTINCT h FROM shh
                WHERE (${md5h56("doc_id::VARCHAR")}) % 20 = 0),
         co AS (SELECT doc_id, h FROM shh
                WHERE (${md5h56("doc_id::VARCHAR")}) % 20 <> 0)
         SELECT doc_id, count(*) AS n_shared_ngrams
         FROM co JOIN ev USING (h)
         GROUP BY 1 ORDER BY doc_id"""),

    // q58: per-doc repetition filters; bigram CTE mirrors NGramShingles
    // (distinct shingles; a <2-token doc yields its whole token list), the
    // positional total is max(len-2,0)+1 by the same convention.
    QueryDef("q58_repetition", CorpusQueries.repetition(_, _),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
         d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                      count(*) AS n_distinct, max(c) AS max_cnt
               FROM tc GROUP BY 1),
         w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         b AS (SELECT doc_id,
                 len(list_filter(
                   list_distinct(list_transform(range(0, greatest(len(w)-2,0)+1),
                     i -> array_to_string(w[i+1:i+2], ' '))),
                   s -> length(s) > 0))::BIGINT AS nb_distinct,
                 (greatest(len(w)-2,0)+1)::BIGINT AS nb_total
               FROM w)
         SELECT d.doc_id, n_tokens, n_distinct,
                max_cnt::DOUBLE / n_tokens AS top_tok_frac,
                1.0 - nb_distinct::DOUBLE / nb_total AS dup_bigram_frac,
                CAST(CASE WHEN max_cnt::DOUBLE / n_tokens <= 0.125
                           AND 1.0 - nb_distinct::DOUBLE / nb_total <= 0.05
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM d JOIN b ON d.doc_id = b.doc_id
         ORDER BY d.doc_id"""),

    // q59: windowed integer sum → HUGEINT in DuckDB; CAST back to BIGINT
    // before the floor/divide (and on every aggregate) per the q42 rule.
    QueryDef("q59_pack_sequences", CorpusQueries.packSequences(_, _),
      s"""WITH t AS (SELECT doc_id,
              (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT AS n_tok,
              ${md5h56("doc_id::VARCHAR")} AS h,
              (${md5h56("doc_id::VARCHAR")}) % 8 AS shard
            FROM documents),
         p AS (SELECT shard, n_tok,
                 CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
               FROM t),
         bins AS (SELECT shard, n_tok,
                    CAST(floor(prefix / 256) AS BIGINT) AS bin FROM p)
         SELECT shard, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum
         FROM bins GROUP BY 1, 2 ORDER BY shard, bin"""),

    // q60: identical double-division order as the Spark side (share first,
    // then target/share).
    QueryDef("q60_domain_mix", CorpusQueries.domainMix(_, _),
      """WITH s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
                      AS BIGINT) AS tok_sum
               FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(tok_sum) AS BIGINT) AS total_toks,
                      count(*) AS n_sources FROM s),
         x AS (SELECT source, n_docs, tok_sum,
                      tok_sum::DOUBLE / total_toks::DOUBLE AS token_share,
                      n_sources
               FROM s CROSS JOIN t)
         SELECT source, n_docs, tok_sum, token_share,
                least(1.0, (1.0 / n_sources::DOUBLE) / token_share) AS sample_weight
         FROM x ORDER BY source"""),

    QueryDef("q61_row_ids", CorpusQueries.rowIds(_, _),
      s"""SELECT doc_id,
           row_number() OVER (ORDER BY ${md5h56("doc_id::VARCHAR")}, doc_id) - 1 AS seq
         FROM documents ORDER BY seq"""),

    QueryDef("q48_tfidf", CorpusQueries.tfidfTopTerms(_, _),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                      FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT doc_id, token,
                      tf::DOUBLE * ((n_docs + 1)::DOUBLE / (df + 1)::DOUBLE) AS tfidf
                    FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         r AS (SELECT doc_id, token, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, token) AS rnk
               FROM scored)
         SELECT doc_id, token, tfidf, rnk FROM r WHERE rnk <= 3
         ORDER BY doc_id, rnk"""),

    // X48: 10-token chunks, corpus-wide keep-first under (doc_id, idx),
    // docs reassembled from survivors — NULL when nothing survives
    QueryDef("q67_chunk_dedup", CorpusQueries.chunkDedup(_, _),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         ch AS (SELECT doc_id, unnest(range(0, ((len(w) + 9) // 10))) AS chunk_idx, w
                FROM w),
         c2 AS (SELECT doc_id, chunk_idx,
                  array_to_string(w[chunk_idx*10+1 : chunk_idx*10+10], ' ') AS chunk
                FROM ch),
         r AS (SELECT doc_id, chunk_idx, chunk,
                 row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
               FROM c2)
         SELECT doc_id, count(*) AS n_chunks,
                count(*) FILTER (rn = 1) AS n_kept,
                string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (rn = 1) AS new_text
         FROM r GROUP BY doc_id ORDER BY doc_id"""),

    // X49: SCD2 intervals from the events change log
    QueryDef("q68_scd2", CorpusQueries.scd2(_, _),
      """WITH l AS (SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM events),
         c AS (SELECT user_id, event_type, ts, event_id FROM l
               WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type AS state, ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
                CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
                (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
         FROM c ORDER BY user_id, version"""),

    // X50: per-source token-budget quota in content-hash order (the
    // windowed integer sum is CAST to BIGINT — HUGEINT drift rule)
    QueryDef("q69_token_budget", CorpusQueries.tokenBudget(_, _),
      s"""WITH d AS (SELECT doc_id, source,
                  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tok,
                  ${md5h56("doc_id::VARCHAR")} AS h
                FROM documents),
         c AS (SELECT doc_id, source, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM d)
         SELECT source, count(*) AS n_docs_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept,
                max(cum) AS tok_cum_at_cut
         FROM c WHERE cum - n_tok < 512 GROUP BY source ORDER BY source"""),

    // X52: same three replacements, same fixed order, identical RE2/Java
    // regex subset; DuckDB needs the explicit 'g' flag Spark implies
    QueryDef("q71_redact", CorpusQueries.redact(_, _),
      s"""SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(
              source || '_' || doc_id::VARCHAR || '@example.com' || ' tel ' ||
                (doc_id * 7919 + 10000000)::VARCHAR || ' ' ||
                '192.168.' || (doc_id % 254)::VARCHAR || '.' ||
                ((doc_id * 7) % 254)::VARCHAR || ' ' || text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
              '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
              '[0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g') AS redacted
         FROM documents ORDER BY doc_id"""),

    // X53: integer-exact weighted Bernoulli — 140737488355328 = 2^56/512
    QueryDef("q72_weighted_sample", CorpusQueries.weightedSample(_, _),
      s"""WITH d AS (SELECT doc_id, source,
                  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tok,
                  ${md5h56("doc_id::VARCHAR")} AS h
                FROM documents)
         SELECT source, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept
         FROM d WHERE h < 140737488355328 * least(n_tok, 512)
         GROUP BY source ORDER BY source"""),

    // X54: exact top-20 token counts are the hash-gated payload; est_ok
    // TRUE asserts the Spark-side CMS estimate sits in [exact, exact+N/256]
    QueryDef("q73_cms_topk", CorpusQueries.cmsTopk(_, _),
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         c AS (SELECT token, count(*) AS n_exact FROM tok GROUP BY 1)
         SELECT token, n_exact, TRUE AS est_ok
         FROM c ORDER BY n_exact DESC, token LIMIT 20"""),

    // X56: identical Morton shift/mask cascade (DuckDB lateral alias
    // references keep it readable); all intermediates < 2^33
    QueryDef("q74_zorder", CorpusQueries.zorderProfile(_, _),
      """WITH base AS (
           SELECT (o_custkey & 65535) AS a0,
                  (date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) & 65535) AS b0
           FROM orders),
         sp AS (
           SELECT ((a0 | (a0 << 8)) & 16711935) AS a1,
                  ((a1 | (a1 << 4)) & 252645135) AS a2,
                  ((a2 | (a2 << 2)) & 858993459) AS a3,
                  ((a3 | (a3 << 1)) & 1431655765) AS az,
                  ((b0 | (b0 << 8)) & 16711935) AS b1,
                  ((b1 | (b1 << 4)) & 252645135) AS b2,
                  ((b2 | (b2 << 2)) & 858993459) AS b3,
                  ((b3 | (b3 << 1)) & 1431655765) AS bz,
                  (az | (bz << 1)) AS z
           FROM base)
         SELECT z >> 20 AS z_bucket, count(*) AS n, min(z) AS z_min, max(z) AS z_max
         FROM sp GROUP BY 1 ORDER BY 1"""),

    // X57: keep-first inside the batch, then NOT EXISTS vs the history
    // fingerprint set — the plain-SQL twin of the anti-join pipeline
    QueryDef("q75_incremental_dedup", CorpusQueries.incrementalDedup(_, _),
      """WITH b AS (SELECT doc_id, md5(text) AS fingerprint FROM documents
                    WHERE doc_id % 5 = 0),
         hist AS (SELECT DISTINCT md5(text) AS fingerprint FROM documents
                  WHERE doc_id % 5 <> 0),
         k AS (SELECT doc_id, fingerprint,
                 row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
               FROM b)
         SELECT doc_id, fingerprint FROM k
         WHERE rn = 1 AND NOT EXISTS
           (SELECT 1 FROM hist WHERE hist.fingerprint = k.fingerprint)
         ORDER BY doc_id"""),

    // X228: the maintained index's content is hist ∪ (b1 \ hist) =
    // hist ∪ b1 — the twin pins that in-place maintenance is invisible
    // to query semantics (its history set is simply doc_id % 5 >= 1)
    QueryDef("q229_index_maintenance", CorpusQueries.indexMaintenance(_, _),
      """WITH hist2 AS (SELECT DISTINCT md5(text) AS fingerprint
                        FROM documents WHERE doc_id % 5 >= 1),
         b2 AS (SELECT doc_id, md5(text) AS fingerprint FROM documents
                WHERE doc_id % 5 = 0),
         k AS (SELECT doc_id, fingerprint,
                 row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
               FROM b2)
         SELECT doc_id, fingerprint FROM k
         WHERE rn = 1 AND NOT EXISTS
           (SELECT 1 FROM hist2 WHERE hist2.fingerprint = k.fingerprint)
         ORDER BY doc_id"""),

    // X60: prefix filtering is exact — the oracle is the same all-pairs
    // Jaccard join the banded/LSH operators verify against, at the
    // prefix join's own parameters (4-gram shingles, threshold 0.6)
    QueryDef("q78_setsim_join", CorpusQueries.setsimJoin(_, _), jaccardPairsN(4, 0.6)),

    // X61: per column, the last non-null write after the key's last
    // delete; the key survives iff an upsert follows the last delete
    QueryDef("q79_apply_changes", CorpusQueries.applyChanges(_, _),
      """WITH log AS (
           SELECT user_id, event_id, event_type,
                  CASE WHEN event_type <> 'view' THEN value END AS value,
                  CASE WHEN event_type <> 'click' THEN props END AS props,
                  event_type = 'error' AS is_del
           FROM events),
         agg AS (
           SELECT user_id,
             coalesce(max(event_id) FILTER (WHERE is_del), -1) AS last_del,
             max(event_id) FILTER (WHERE NOT is_del) AS last_up,
             arg_max(event_type, event_id)
               FILTER (WHERE NOT is_del AND event_type IS NOT NULL) AS v_et,
             max(event_id)
               FILTER (WHERE NOT is_del AND event_type IS NOT NULL) AS o_et,
             arg_max(value, event_id)
               FILTER (WHERE NOT is_del AND value IS NOT NULL) AS v_val,
             max(event_id)
               FILTER (WHERE NOT is_del AND value IS NOT NULL) AS o_val,
             arg_max(props, event_id)
               FILTER (WHERE NOT is_del AND props IS NOT NULL) AS v_props,
             max(event_id)
               FILTER (WHERE NOT is_del AND props IS NOT NULL) AS o_props
           FROM log GROUP BY 1)
         SELECT user_id,
           CASE WHEN o_et > last_del THEN v_et END AS event_type,
           CASE WHEN o_val > last_del THEN v_val END AS value,
           CASE WHEN o_props > last_del THEN v_props END AS props
         FROM agg WHERE last_up > last_del
         ORDER BY user_id"""),

    // X62: exact interpolated percentiles over price cents; the sketch
    // estimate itself is engine-internal, its rank bound rides as est_ok
    QueryDef("q80_quantile_sketch", CorpusQueries.quantileSketch(_, _),
      """SELECT l_returnflag,
                quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.5) AS p50,
                quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.9) AS p90,
                TRUE AS est_ok
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // X63: postings encoded doc_id*128 + pos (0-based); head = 20
    // smallest encodings per token
    QueryDef("q81_inverted_index", CorpusQueries.invertedIndex(_, _),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         p AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(w)+1),
                   i -> struct_pack(tok := w[i], enc := doc_id*128 + (i-1)))) AS u
               FROM toks),
         f AS (SELECT u.tok AS token, u.enc AS enc FROM p)
         SELECT token,
                count(DISTINCT enc // 128) AS n_docs,
                count(*) AS n_occ,
                array_to_string(list_sort(list(enc))[1:20], ',') AS postings_head
         FROM f GROUP BY 1 HAVING count(DISTINCT enc // 128) >= 25
         ORDER BY 1"""),

    // X64: the full curation chain — each stage the already-gated twin
    // (quality q27, repetition q58, keep-first q24, decontamination q57,
    // token budget q69), composed as one CTE pipeline
    QueryDef("q82_curate", CorpusQueries.curate(_, _),
      s"""WITH base AS (SELECT doc_id, text, source,
                        ${md5h56("doc_id::VARCHAR")} AS dh FROM documents),
         corpus AS (SELECT * FROM base WHERE dh % 20 <> 0),
         ev     AS (SELECT * FROM base WHERE dh % 20 = 0),
         q AS (SELECT * FROM corpus WHERE $qualityExpr >= 0.5),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM q),
         tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
         da AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS max_cnt
                FROM tc GROUP BY 1),
         wq AS (SELECT doc_id, string_split(text, ' ') AS w FROM q),
         bg AS (SELECT doc_id,
                  len(list_filter(
                    list_distinct(list_transform(range(0, greatest(len(w)-2,0)+1),
                      i -> array_to_string(w[i+1:i+2], ' '))),
                    s -> length(s) > 0))::BIGINT AS nb_distinct,
                  (greatest(len(w)-2,0)+1)::BIGINT AS nb_total
                FROM wq),
         rep AS (SELECT da.doc_id FROM da JOIN bg USING (doc_id)
                 WHERE max_cnt::DOUBLE / n_tokens <= 0.125
                   AND 1.0 - nb_distinct::DOUBLE / nb_total <= 0.05),
         qr AS (SELECT q.* FROM q JOIN rep USING (doc_id)),
         fp AS (SELECT doc_id, source, text,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
                FROM qr),
         keepers AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY 1),
         dd AS (SELECT fp.* FROM fp JOIN keepers USING (f, doc_id)),
         evw AS (SELECT string_split(text, ' ') AS w FROM ev),
         evsh AS (SELECT DISTINCT ${md5h56("shingle")} AS h FROM (
                    SELECT unnest(list_transform(range(0, greatest(len(w)-4,0)+1),
                      i -> array_to_string(w[i+1:i+4], ' '))) AS shingle FROM evw)
                  WHERE length(shingle) > 0),
         ddw AS (SELECT doc_id, string_split(text, ' ') AS w FROM dd),
         ddsh AS (SELECT DISTINCT doc_id, ${md5h56("shingle")} AS h FROM (
                    SELECT doc_id,
                      unnest(list_transform(range(0, greatest(len(w)-4,0)+1),
                        i -> array_to_string(w[i+1:i+4], ' '))) AS shingle FROM ddw)
                  WHERE length(shingle) > 0),
         contaminated AS (SELECT DISTINCT doc_id FROM ddsh JOIN evsh USING (h)),
         clean AS (SELECT dd.* FROM dd
                   WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                                     WHERE c.doc_id = dd.doc_id)),
         t AS (SELECT doc_id, source, $tokenCount::BIGINT AS n_tok,
                 ${md5h56("doc_id::VARCHAR")} AS h FROM clean),
         cum AS (SELECT source, doc_id, n_tok,
                   sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM t)
         SELECT source, count(*) AS n_docs_kept, CAST(sum(n_tok) AS BIGINT) AS tok_kept
         FROM cum WHERE cum - n_tok < 512 GROUP BY 1 ORDER BY 1"""),

    // X58: step-i time = earliest matching event strictly after step i-1
    QueryDef("q76_funnel", CorpusQueries.funnel(_, _),
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
         SELECT s1.user_id, t1, t2, t3,
                CAST(1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
                       + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS steps_completed
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         ORDER BY user_id"""),

    // X59: cohort = week of first activity; offsets are whole weeks
    QueryDef("q77_retention", CorpusQueries.retention(_, _),
      """WITH act AS (SELECT DISTINCT user_id,
                        CAST(date_trunc('week', ts) AS DATE) AS p
                      FROM events),
         first AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY 1)
         SELECT cohort, date_diff('day', cohort, p) // 7 AS week_offset,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM act JOIN first USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // X51: the bloom filter is invisible in the result — the oracle is
    // the plain EXISTS semi join
    QueryDef("q70_bloom_semi", CorpusQueries.bloomSemiJoin(_, _),
      """SELECT l_returnflag, count(*) AS n_lines,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 400000)
         GROUP BY 1 ORDER BY 1"""),

    // X65: BM25 with the un-logged RSJ idf (ln is libm-dependent; the
    // odds ratio is IEEE-exact); per-doc totals are a FIXED left-assoc
    // sum over the constant term list, not an order-dependent reduction
    QueryDef("q83_bm25_topk", CorpusQueries.bm25TopK(_, _),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         b2 AS (SELECT doc_id, len(w)::BIGINT AS len, w FROM b),
         stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM b2),
         tok AS (SELECT doc_id, len, unnest(w) AS token FROM b2),
         tf AS (SELECT doc_id, len, token, count(*) AS tf FROM tok
                WHERE token IN ('join','hash','vector','window','stream','filter')
                GROUP BY 1, 2, 3),
         dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         s AS (SELECT doc_id, token,
                 (((n_docs - df)::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) *
                 ((tf::DOUBLE * 2.2) /
                  (tf::DOUBLE + 1.2 * (0.25 + 0.75 *
                    (len::DOUBLE / (sum_len::DOUBLE / n_docs::DOUBLE))))) AS s
               FROM tf JOIN dfreq USING (token) CROSS JOIN stats),
         piv AS (SELECT doc_id,
                   max(s) FILTER (token = 'join')   AS s_join,
                   max(s) FILTER (token = 'hash')   AS s_hash,
                   max(s) FILTER (token = 'vector') AS s_vector,
                   max(s) FILTER (token = 'window') AS s_window,
                   max(s) FILTER (token = 'stream') AS s_stream,
                   max(s) FILTER (token = 'filter') AS s_filter
                 FROM s GROUP BY 1),
         sc AS (SELECT doc_id,
                  coalesce(s_join, 0.0) + coalesce(s_hash, 0.0) +
                  coalesce(s_vector, 0.0) + coalesce(s_window, 0.0) +
                  coalesce(s_stream, 0.0) + coalesce(s_filter, 0.0) AS score
                FROM piv)
         SELECT doc_id, score,
                CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
         FROM sc ORDER BY score DESC, doc_id LIMIT 10"""),

    // X66: add-one-smoothed bigram LM trained on the corpus itself;
    // mean probability (not log-prob — ln is libm-dependent). The
    // per-doc sum runs on floor(p*1e12) BIGINTs — associative and
    // order-free in both engines (a double sum would depend on fold
    // order), exactly like the Spark aggregate
    QueryDef("q84_bigram_lm", CorpusQueries.bigramLm(_, _),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT doc_id,
                  unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
                    i -> struct_pack(w1 := w[i + 1], w2 := w[i + 2]))) AS u
                FROM b WHERE len(w) >= 2),
         pr0 AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM bg),
         uni AS (SELECT t, count(*) AS c1 FROM
                   (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
                 GROUP BY 1),
         voc AS (SELECT count(*) AS v FROM uni),
         p AS (SELECT doc_id,
                 CAST(floor((c12 + 1)::DOUBLE / (c1 + v)::DOUBLE * 1e12) AS BIGINT) AS ps
               FROM pr0
               JOIN (SELECT w1, w2, count(*) AS c12 FROM pr0 GROUP BY 1, 2) c12
                 USING (w1, w2)
               JOIN uni ON pr0.w1 = uni.t CROSS JOIN voc),
         d AS (SELECT doc_id, count(*) AS n_bigrams, sum(ps) AS sum_ps
               FROM p GROUP BY 1)
         SELECT doc_id, n_bigrams,
                (sum_ps::DOUBLE / 1e12) / n_bigrams::DOUBLE AS mean_p,
                (sum_ps::DOUBLE / 1e12) / n_bigrams::DOUBLE >= 0.0335 AS keep
         FROM d ORDER BY doc_id"""),

    // X67: the KMV estimate is one division on the 256th-smallest
    // distinct hash — the oracle replays the ENTIRE estimator, not just
    // a verdict; 255·2^56 is an exactly-representable double
    QueryDef("q85_kmv_distinct", CorpusQueries.kmvDistinct(_, _),
      s"""WITH h AS (SELECT DISTINCT event_type,
                       ${md5h56("user_id::VARCHAR")} AS h FROM events),
          r AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM h),
          g AS (SELECT event_type, count(*) AS nd,
                  max(CASE WHEN rn = 256 THEN h END) AS hk
                FROM r GROUP BY 1),
          e AS (SELECT event_type, nd,
                  CASE WHEN nd < 256 THEN nd::DOUBLE
                       ELSE 255.0 * 7.2057594037927936e16 / hk::DOUBLE END AS est
                FROM g)
          SELECT event_type, nd::BIGINT AS n_exact, est,
                 abs(est / nd::DOUBLE - 1.0) <= 0.2 AS est_ok
          FROM e ORDER BY event_type"""),

    // X68: integer-scaled products make the Gram reduction associative —
    // any grouping order gives the same longs; covariance is derived
    // per cell with the identical op sequence
    QueryDef("q86_gram_matrix", CorpusQueries.gramMatrix(_, _),
      """WITH e AS (SELECT embedding AS v FROM embeddings),
         cells AS (SELECT i, j FROM range(0, 64) t1(i), range(0, 64) t2(j)
                   WHERE j >= i),
         prods AS (SELECT i, j,
                     CAST(round(v[i + 1]::DOUBLE * v[j + 1]::DOUBLE *
                                1000000000.0) AS BIGINT) AS x
                   FROM e, cells),
         g AS (SELECT i, j, CAST(sum(x) AS BIGINT) AS gram_scaled,
                 count(*) AS n FROM prods GROUP BY 1, 2),
         s1 AS (SELECT i,
                  CAST(sum(CAST(round(v[i + 1]::DOUBLE * 1000000000.0) AS BIGINT))
                    AS BIGINT) AS s
                FROM e, range(0, 64) t(i) GROUP BY 1)
         SELECT g.i, g.j, n, gram_scaled,
                (gram_scaled::DOUBLE / 1000000000.0) / n::DOUBLE -
                ((si.s::DOUBLE / 1000000000.0) / n::DOUBLE) *
                ((sj.s::DOUBLE / 1000000000.0) / n::DOUBLE) AS cov
         FROM g JOIN s1 si ON si.i = g.i JOIN s1 sj ON sj.i = g.j
         ORDER BY g.i, g.j"""),

    // X69: 20-token windows at stride 10; DuckDB's inclusive slice
    // w[s+1 : s+20] is the 20-element twin of Spark's slice(w, s+1, 20)
    QueryDef("q87_sliding_chunks", CorpusQueries.slidingChunks(_, _),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                    WHERE len(string_split(text, ' ')) >= 1),
         c AS (SELECT doc_id, len(w)::BIGINT AS l, unnest(range(0, len(w), 10)) AS s, w
               FROM b)
         SELECT doc_id, s // 10 AS chunk_idx, s AS start_tok,
                least(20, l - s) AS n_tok,
                md5(array_to_string(w[s + 1 : s + 20], ' ')) AS fp
         FROM c ORDER BY doc_id, chunk_idx"""),

    // X70: exactly-k-per-stratum deterministic sample — the k smallest
    // content-stable hashes per source
    QueryDef("q88_strata_sample", CorpusQueries.strataSample(_, _),
      s"""WITH h AS (SELECT source, doc_id,
                       ${md5h56("doc_id::VARCHAR")} AS h FROM documents),
          r AS (SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
                FROM h)
          SELECT source, doc_id, CAST(rn AS BIGINT) AS rnk
          FROM r WHERE rn <= 20 ORDER BY source, rnk"""),

    // X71: median/MAD robust outliers; quantile_cont is the proven twin
    // of the bracketing-bucket exact percentile operator (q47)
    QueryDef("q89_mad_outliers", CorpusQueries.madOutliers(_, _),
      s"""WITH t AS (SELECT doc_id, source, $tokenCount::BIGINT AS n_tok
                     FROM documents),
          med AS (SELECT source, quantile_cont(n_tok::DOUBLE, 0.5) AS med
                  FROM t GROUP BY 1),
          d AS (SELECT doc_id, source, n_tok,
                  abs(n_tok::DOUBLE - med) AS dev
                FROM t JOIN med USING (source)),
          mad AS (SELECT source, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
          SELECT doc_id, source, n_tok, dev, dev > mad * 3.0 AS is_outlier
          FROM d JOIN mad USING (source) ORDER BY doc_id"""),

    // X72: integer moment sums (exact in any engine), closed-form
    // slope/intercept/r² with one division each
    QueryDef("q90_group_regression", CorpusQueries.groupRegression(_, _),
      s"""WITH t AS (SELECT source, $tokenCount::BIGINT AS x, n_chars AS y
                     FROM documents),
          m AS (SELECT source, count(*) AS n,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
                FROM t GROUP BY 1)
          SELECT source, n,
                 (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope,
                 (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE /
                                (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
                   / n::DOUBLE AS intercept,
                 ((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE) /
                 ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE) AS r2
          FROM m ORDER BY source"""),

    // X73: octile boundaries from quantile_cont (the proven twin of the
    // exact percentile operator); bucket = count of boundaries <= v
    QueryDef("q91_equidepth_hist", CorpusQueries.equiDepthHist(_, _),
      s"""WITH b AS (SELECT l_returnflag,
                  ${(1 to 7).map(i => s"quantile_cont(l_extendedprice, ${i / 8.0}) AS b$i").mkString(", ")}
                FROM lineitem GROUP BY 1)
          SELECT l_returnflag,
                 CAST(${(1 to 7).map(i => s"(CASE WHEN l_extendedprice >= b$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS bucket,
                 count(*) AS n,
                 min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
          FROM lineitem JOIN b USING (l_returnflag)
          GROUP BY 1, 2 ORDER BY 1, 2"""),

    // X74: distinct 4-gram shingle hashes per doc; novelty = share of
    // shingles with corpus doc-frequency 1. The shingle CTE is already
    // distinct per doc, so df = plain COUNT(*) (mirrors the Spark side)
    QueryDef("q92_novelty", CorpusQueries.noveltyScore(_, _),
      s"""WITH ${shingleCteN(4)},
          shh AS (SELECT doc_id, ${md5h56("shingle")} AS h FROM sh),
          dfreq AS (SELECT h, count(*) AS df FROM shh GROUP BY 1)
          SELECT doc_id, count(*) AS n_shingles,
                 CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                 CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE /
                   count(*)::DOUBLE AS novelty
          FROM shh JOIN dfreq USING (h)
          GROUP BY 1 ORDER BY 1"""),

    // X77: 10 unrolled PageRank rounds in integer fixed-point — all
    // truncating `//` on positives (== Spark `div`) and exact long sums,
    // so every round replays bit-for-bit
    QueryDef("q94_token_pagerank", CorpusQueries.tokenPagerank(_, _), {
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (SELECT nodes.node,
              CAST((15 * (1000000000000 // n)) // 100 +
                   (85 * coalesce(inf.s, 0)) // 100 AS BIGINT) AS rank
            FROM nodes CROSS JOIN nn LEFT JOIN (
              SELECT e.dst, sum((r${i - 1}.rank * e.w) // outw.W) AS s
              FROM e JOIN outw USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
              GROUP BY 1) inf
            ON inf.dst = nodes.node)"""
      }.mkString(",\n")
      s"""WITH b AS (SELECT string_split(text, ' ') AS w FROM documents
                     WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
                  i -> struct_pack(src := w[i + 1], dst := w[i + 2]))) AS u
                FROM b),
         e AS (SELECT u.src AS src, u.dst AS dst, count(*) AS w FROM bg GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         outw AS (SELECT src, sum(w) AS W FROM e GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM nodes),
         r0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS rank
                FROM nodes CROSS JOIN nn),
         $rounds
         SELECT node, rank AS rank_scaled FROM r10
         ORDER BY rank_scaled DESC, node"""
    }),

    // X78: full-outer digest-join snapshot diff over the simulated
    // old/new corpus versions (hash splits mirror the Spark query)
    QueryDef("q95_snapshot_diff", CorpusQueries.snapshotDiff(_, _),
      s"""WITH d AS (SELECT doc_id, text,
                       ${md5h56("doc_id::VARCHAR")} AS dh FROM documents),
          olds AS (SELECT doc_id AS id, md5(text) AS ha FROM d WHERE dh % 11 <> 0),
          news AS (SELECT doc_id AS id,
                     md5(CASE WHEN dh % 7 = 0 THEN text || ' v2' ELSE text END) AS hb
                   FROM d WHERE dh % 13 <> 0),
          j AS (SELECT coalesce(olds.id, news.id) AS id,
                  CASE WHEN ha IS NULL THEN 'added'
                       WHEN hb IS NULL THEN 'removed'
                       WHEN ha <> hb THEN 'changed'
                       ELSE 'unchanged' END AS status
                FROM olds FULL OUTER JOIN news ON olds.id = news.id)
          SELECT status, count(*) AS n, min(id) AS first_id, max(id) AS last_id
          FROM j GROUP BY 1 ORDER BY 1"""),

    // X79: the data-card profile — every stat the already-gated kernel
    // (counts, weighted median, fingerprints, KMV), composed; the KMV
    // estimator is replayed on the 256th-smallest distinct fp hash
    QueryDef("q96_corpus_profile", CorpusQueries.corpusProfile(_, _), {
      val fp = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
      s"""WITH t AS (SELECT source, $tokenCount::BIGINT AS n_tok,
                       ${md5h56(fp)} AS fph FROM documents),
          a AS (SELECT source, count(*) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS tok_total,
                  count(DISTINCT fph) AS ndf FROM t GROUP BY 1),
          m AS (SELECT source, quantile_cont(n_tok::DOUBLE, 0.5) AS med_tok
                FROM t GROUP BY 1),
          h AS (SELECT DISTINCT source, fph FROM t),
          r AS (SELECT source, fph,
                  row_number() OVER (PARTITION BY source ORDER BY fph) AS rn
                FROM h),
          g AS (SELECT source, count(*) AS nd,
                  max(CASE WHEN rn = 256 THEN fph END) AS hk FROM r GROUP BY 1),
          e AS (SELECT source,
                  CASE WHEN nd < 256 THEN nd::DOUBLE
                       ELSE 255.0 * 7.2057594037927936e16 / hk::DOUBLE END AS est
                FROM g)
          SELECT source, n_docs, tok_total, med_tok,
                 CAST(n_docs - ndf AS BIGINT) AS n_dups,
                 abs(est / ndf::DOUBLE - 1.0) <= 0.2 AS fp_est_ok
          FROM a JOIN m USING (source) JOIN e USING (source)
          ORDER BY source"""
    }),

    // X80: the merge algebra in plain SQL — counts/sums add, extrema
    // fold through coalesce pairs, KMV union = sort(distinct(concat))
    // truncated to k; gate proves merged state == direct aggregation
    QueryDef("q97_incremental_rollup", CorpusQueries.incrementalRollup(_, _),
      s"""WITH d AS (SELECT source, doc_id, $tokenCount::BIGINT AS n_tok,
                       ${md5h56("doc_id::VARCHAR")} AS dh FROM documents),
          hist AS (SELECT source, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tok,
                     min(n_tok) AS mn, max(n_tok) AS mx,
                     (list_sort(list(DISTINCT dh)))[1:256] AS sk
                   FROM d WHERE dh % 5 <> 0 GROUP BY 1),
          batch AS (SELECT source, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tok,
                      min(n_tok) AS mn, max(n_tok) AS mx,
                      (list_sort(list(DISTINCT dh)))[1:256] AS sk
                    FROM d WHERE dh % 5 = 0 GROUP BY 1),
          direct AS (SELECT source, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS tok,
                       min(n_tok) AS mn, max(n_tok) AS mx,
                       (list_sort(list(DISTINCT dh)))[1:256] AS sk
                     FROM d GROUP BY 1),
          merged AS (SELECT coalesce(h.source, b.source) AS source,
                       coalesce(h.n, 0) + coalesce(b.n, 0) AS n,
                       coalesce(h.tok, 0) + coalesce(b.tok, 0) AS tok,
                       least(coalesce(h.mn, b.mn), coalesce(b.mn, h.mn)) AS mn,
                       greatest(coalesce(h.mx, b.mx), coalesce(b.mx, h.mx)) AS mx,
                       (list_sort(list_distinct(list_concat(
                          coalesce(h.sk, []), coalesce(b.sk, [])))))[1:256] AS sk
                     FROM hist h FULL OUTER JOIN batch b ON h.source = b.source)
          SELECT m.source AS source, CAST(m.n AS BIGINT) AS n, m.tok AS tok,
                 m.mn AS mn, m.mx AS mx,
                 (m.n = d.n AND m.tok = d.tok AND m.mn = d.mn AND m.mx = d.mx
                  AND m.sk = d.sk) AS merge_exact
          FROM merged m JOIN direct d ON m.source = d.source
          ORDER BY m.source"""),

    // X81: two-sample chi-square drift between hash halves; the total
    // folds per-token terms in token order (ordered-fold pattern)
    QueryDef("q98_distribution_drift", CorpusQueries.distributionDrift(_, _),
      s"""WITH d AS (SELECT text,
                       (${md5h56("doc_id::VARCHAR")}) % 2 AS half FROM documents),
          tok AS (SELECT half, unnest(string_split(text, ' ')) AS t FROM d),
          cnt AS (SELECT t,
                    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
                  FROM tok GROUP BY 1),
          tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                    CAST(sum(cb) AS BIGINT) AS nb FROM cnt),
          p AS (SELECT t, ca, cb,
                  (ca::DOUBLE - (ca + cb)::DOUBLE * (na::DOUBLE / (na + nb)::DOUBLE)) *
                  (ca::DOUBLE - (ca + cb)::DOUBLE * (na::DOUBLE / (na + nb)::DOUBLE)) /
                  ((ca + cb)::DOUBLE * (na::DOUBLE / (na + nb)::DOUBLE)) +
                  (cb::DOUBLE - (ca + cb)::DOUBLE * (nb::DOUBLE / (na + nb)::DOUBLE)) *
                  (cb::DOUBLE - (ca + cb)::DOUBLE * (nb::DOUBLE / (na + nb)::DOUBLE)) /
                  ((ca + cb)::DOUBLE * (nb::DOUBLE / (na + nb)::DOUBLE)) AS chi2_term
                FROM cnt CROSS JOIN tot),
          s AS (SELECT list_reduce(
                  list_prepend(0.0::DOUBLE,
                    list_transform(list_sort(list(struct_pack(t := t, x := chi2_term))),
                      u -> u.x)),
                  (a, x) -> a + x) AS chi2_total FROM p)
          SELECT t, ca, cb, chi2_term, chi2_total
          FROM p CROSS JOIN s ORDER BY t"""),

    // X83: NFC collapses composed/decomposed spellings — 2 raw
    // fingerprints, 1 normalized, per doc; nfc_normalize is the
    // Unicode-standard twin of java.text.Normalizer
    QueryDef("q100_nfc_dedup", CorpusQueries.nfcDedup(_, _),
      """WITH v AS (SELECT doc_id,
                      unnest([text || ' caf' || chr(233),
                              text || ' cafe' || chr(769)]) AS raw
                    FROM documents),
         f AS (SELECT doc_id, md5(raw) AS raw_fp,
                 md5(nfc_normalize(raw)) AS norm_fp FROM v)
         SELECT doc_id,
                CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_fps,
                CAST(count(DISTINCT norm_fp) AS BIGINT) AS n_norm_fps,
                min(norm_fp) AS norm_fp
         FROM f GROUP BY 1 ORDER BY 1"""),

    // X85: the full quantized-retrieval evaluation replayed — quantize,
    // dequantize, fold-ordered cosine, both rankings, agreement join
    QueryDef("q101_pq_ann", CorpusQueries.pqAnn(_, _),
      s"""WITH cells AS (SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
                         FROM embeddings, range(1, 65) t(i)),
          stats AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM cells GROUP BY 1),
          dqv AS (SELECT vec_id, dim,
                    CASE WHEN mx = mn THEN mn ELSE
                      (CAST(round((v - mn) / (mx - mn) * 254.0 - 127.0) AS BIGINT)::DOUBLE
                         + 127.0) / 254.0 * (mx - mn) + mn END AS dq
                  FROM cells JOIN stats USING (dim)),
          vecs AS (SELECT vec_id, list(dq ORDER BY dim) AS v FROM dqv GROUP BY 1),
          q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 10),
          c AS (SELECT vec_id, v FROM vecs WHERE vec_id >= 10),
          s AS (SELECT query_id, vec_id, ${cosine("qv", "v")} AS sim FROM c, q),
          r AS (SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk FROM s),
          fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
                 WHERE vec_id < 10),
          fc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
          fs AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim
                 FROM fc, fq),
          fr AS (SELECT query_id, vec_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rnk FROM fs)
          SELECT r.query_id, CAST(r.rnk AS BIGINT) AS rnk, r.vec_id,
                 r.sim AS sim_q8, r.vec_id = fr.vec_id AS same_as_float
          FROM r JOIN fr ON r.query_id = fr.query_id AND r.rnk = fr.rnk
          WHERE r.rnk <= 5
          ORDER BY r.query_id, rnk"""),

    // X86: duplicate-span excision — window fingerprints, corpus-wide
    // duplicate flagging, merged-span islands, positional token excision
    QueryDef("q102_span_excise", CorpusQueries.spanExcise(_, _),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         wn AS (SELECT doc_id, unnest(range(0, len(w) - 20 + 1, 10)) AS s, w
                FROM b WHERE len(w) >= 20),
         f AS (SELECT doc_id, s,
                 md5(array_to_string(w[s + 1 : s + 20], ' ')) AS fp FROM wn),
         dup AS (SELECT fp FROM f GROUP BY fp HAVING count(*) >= 2),
         fl AS (SELECT doc_id, s FROM f JOIN dup USING (fp)),
         il AS (SELECT doc_id, s,
                  CASE WHEN s > coalesce(lag(s) OVER (PARTITION BY doc_id
                                                      ORDER BY s) + 20, -1)
                       THEN 1 ELSE 0 END AS ni
                FROM fl),
         ag AS (SELECT doc_id, list_sort(list(s)) AS starts,
                  count(*) AS nf, sum(ni) AS ns FROM il GROUP BY 1),
         fin AS (SELECT b.doc_id, len(b.w)::BIGINT AS n_tok,
                   coalesce(nf, 0)::BIGINT AS n_flagged_windows,
                   coalesce(ns, 0)::BIGINT AS n_spans,
                   list_filter(b.w, (t, i) ->
                     len(list_filter(coalesce(starts, CAST([] AS BIGINT[])),
                         s -> i - 1 >= s AND i - 1 < s + 20)) = 0) AS cw
                 FROM b LEFT JOIN ag USING (doc_id))
         SELECT doc_id, n_tok, n_flagged_windows, n_spans,
                (n_tok - len(cw))::BIGINT AS n_removed,
                md5(coalesce(array_to_string(cw, ' '), '')) AS clean_fp
         FROM fin ORDER BY doc_id"""),

    // X87: byte-level BPE training — the 5 learned merges + the
    // resulting top-20 subword vocabulary, symbols as UTF-8-byte hex
    // (see bpeByteCtes)
    QueryDef("q103_bpe_train", CorpusQueries.bpeTrain(_, _), {
      val mergeUnion = (1 to 5).map { i =>
        s"""SELECT 'merge' AS kind, CAST($i AS BIGINT) AS rnk, l AS left_sym,
                   r AS right_sym, CAST(n AS BIGINT) AS weight FROM b$i"""
      }.mkString(" UNION ALL ")
      s"""WITH $bpeTrainingCtes,
         vs AS (SELECT unnest(syms) AS sym, wc FROM w5),
         vocab AS (SELECT sym, sum(wc) AS f FROM vs GROUP BY 1),
         topv AS (SELECT 'symbol' AS kind,
                    CAST(row_number() OVER (ORDER BY f DESC, sym) AS BIGINT) AS rnk,
                    sym AS left_sym, '' AS right_sym, CAST(f AS BIGINT) AS weight
                  FROM vocab ORDER BY f DESC, sym LIMIT 20)
         SELECT * FROM ($mergeUnion UNION ALL SELECT * FROM topv)
         ORDER BY kind, rnk"""
    }),

    // X88: the learned byte merges applied corpus-wide — hex-word-type
    // lookup join, per-doc word/subword counts
    QueryDef("q104_bpe_tokenize", CorpusQueries.bpeTokenize(_, _),
      s"""WITH $bpeTrainingCtes,
         lut AS (SELECT array_to_string(syms, '') AS hword,
                   len(syms)::BIGINT AS n_sub FROM w5),
         dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents)
         SELECT doc_id, count(*) AS n_words, sum(n_sub)::BIGINT AS n_subwords
         FROM dw JOIN lut ON hex(word) = hword
         WHERE word <> '' GROUP BY 1 ORDER BY 1"""),

    // X104: count-preserving dedup reweighting — keepers carry their
    // cluster size, singletons weigh 1
    QueryDef("q119_dedup_reweight", CorpusQueries.dedupReweight(_, _),
      s"""WITH RECURSIVE $dupGroupCtes,
         g AS (SELECT node AS doc_id, min(reach) AS group_id
               FROM r GROUP BY node),
         gsz AS (SELECT group_id, count(*) AS weight FROM g GROUP BY 1),
         k AS (SELECT g.doc_id, gsz.weight FROM g JOIN gsz USING (group_id)
               WHERE g.doc_id = g.group_id),
         sg AS (SELECT doc_id, CAST(1 AS BIGINT) AS weight FROM documents
                WHERE doc_id NOT IN (SELECT doc_id FROM g))
         SELECT doc_id, weight FROM (SELECT * FROM k UNION ALL SELECT * FROM sg)
         ORDER BY doc_id"""),

    // X103: temperature-scaled domain mixing — weights ∝ sqrt(share),
    // normalizer folded in source order (engine-exact float sum)
    QueryDef("q118_temperature_mix", CorpusQueries.temperatureMix(_, _),
      s"""WITH s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum($tokenCount) AS BIGINT) AS tok_sum
               FROM documents GROUP BY 1),
         t AS (SELECT CAST(sum(tok_sum) AS BIGINT) AS total_toks FROM s),
         sh AS (SELECT source, n_docs, tok_sum,
                  tok_sum::DOUBLE / total_toks::DOUBLE AS token_share,
                  sqrt(tok_sum::DOUBLE / total_toks::DOUBLE) AS sq
                FROM s CROSS JOIN t),
         z AS (SELECT list_reduce(
                 list_prepend(0.0::DOUBLE,
                   list_transform(
                     list_sort(list(struct_pack(source := source, sq := sq))),
                     x -> x.sq)),
                 (a, b) -> a + b) AS z FROM sh)
         SELECT source, n_docs, tok_sum, token_share,
                sq / z AS temp_weight, (sq / z) / token_share AS boost
         FROM sh CROSS JOIN z ORDER BY source"""),

    // X102: vocabulary coverage curve — cumulative token coverage at
    // fixed top-N vocab sizes, exact-long arithmetic
    QueryDef("q117_vocab_coverage", CorpusQueries.vocabCoverage(_, _),
      """WITH wc AS (SELECT t AS word, count(*) AS c FROM
             (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> '' GROUP BY 1),
         top AS (SELECT word, c FROM wc ORDER BY c DESC, word LIMIT 10000),
         r AS (SELECT word, c,
                 row_number() OVER (ORDER BY c DESC, word) AS rnk,
                 sum(c) OVER (ORDER BY c DESC, word
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
               FROM top),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_tokens,
                   count(*) AS vocab_size FROM wc)
         SELECT CAST(rnk AS BIGINT) AS top_n, CAST(cum AS BIGINT) AS covered_tokens,
                total_tokens, vocab_size,
                cum::DOUBLE / total_tokens::DOUBLE AS coverage
         FROM r CROSS JOIN tot
         WHERE rnk IN (5, 10, 20, 10000)
         ORDER BY top_n"""),

    // X100: matryoshka truncation eval — 16-dim-prefix ranking vs the
    // full 64-dim ranking, rank-by-rank agreement
    QueryDef("q116_matryoshka_eval", CorpusQueries.matryoshkaEval(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         st AS (SELECT query_id, vec_id, ${cosineD("qv", "embedding", 16)} AS sim
                FROM c, q),
         rt AS (SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
                FROM st),
         sf AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim
                FROM c, q),
         rf AS (SELECT query_id, vec_id, sim,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk
                FROM sf)
         SELECT rt.query_id, rt.rnk, rt.vec_id, rt.sim AS sim_trunc,
                rt.vec_id = rf.vec_id AS same_as_full
         FROM rt JOIN rf ON rt.query_id = rf.query_id AND rt.rnk = rf.rnk
         WHERE rt.rnk <= 5 AND rf.rnk <= 5
         ORDER BY rt.query_id, rt.rnk"""),

    // X99: cluster purity — member count, majority label, purity per
    // X90 semantic cluster
    QueryDef("q115_cluster_purity", CorpusQueries.clusterPurity(_, _),
      s"""WITH $semAssignCtes,
         al AS (SELECT a.vec_id, a.centroid_id, e.label
                FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id),
         pl AS (SELECT centroid_id, label, count(*) AS c FROM al GROUP BY 1, 2),
         r AS (SELECT centroid_id, label, c,
                 row_number() OVER (PARTITION BY centroid_id
                                    ORDER BY c DESC, label) AS rn,
                 sum(c) OVER (PARTITION BY centroid_id) AS n_vectors
               FROM pl)
         SELECT centroid_id, CAST(n_vectors AS BIGINT) AS n_vectors,
                label AS majority_label, CAST(c AS BIGINT) AS majority_count,
                c::DOUBLE / n_vectors::DOUBLE AS purity
         FROM r WHERE rn = 1 ORDER BY centroid_id"""),

    // X98: padding-waste report — power-of-2 length buckets, integer
    // waste sums, one utilization division
    QueryDef("q114_padding_waste", CorpusQueries.paddingWaste(_, _), {
      val ladder = (0 to 16).map(i => 1L << i)
        .map(p => s"WHEN n <= $p THEN CAST($p AS BIGINT)").mkString(" ")
      s"""WITH d AS (SELECT doc_id, CAST($tokenCount AS BIGINT) AS n FROM documents),
         b AS (SELECT doc_id, n,
                 CASE $ladder ELSE CAST(${1L << 17} AS BIGINT) END AS bucket_max
               FROM d)
         SELECT bucket_max, count(*) AS n_docs,
                CAST(sum(n) AS BIGINT) AS sum_tokens,
                CAST(sum(bucket_max - n) AS BIGINT) AS pad_tokens,
                sum(n)::DOUBLE / (count(*) * bucket_max)::DOUBLE AS utilization
         FROM b GROUP BY 1 ORDER BY 1"""
    }),

    // X96: retrieval eval — first-relevant rank, hit@10, macro MRR@10
    // with the reciprocal-rank sum integer-scaled by 2520 = lcm(1..10)
    QueryDef("q112_retrieval_eval", CorpusQueries.retrievalEval(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
              FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id >= 10),
         s AS (SELECT query_id, qlabel, vec_id, label,
                 ${cosine("qv", "embedding")} AS sim FROM c, q),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rnk FROM s),
         t AS (SELECT query_id, qlabel, label, rnk FROM r WHERE rnk <= 10),
         per AS (SELECT query_id,
                   min(CASE WHEN label = qlabel THEN rnk END) AS first_rel_rank,
                   CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_rel_at_10
                 FROM t GROUP BY 1),
         p2 AS (SELECT query_id, first_rel_rank,
                  first_rel_rank IS NOT NULL AS hit_at_10, n_rel_at_10,
                  coalesce(2520 // first_rel_rank, 0)::BIGINT AS rr_scaled
                FROM per),
         tot AS (SELECT CAST(sum(rr_scaled) AS BIGINT) AS srr, count(*) AS nq FROM p2)
         SELECT query_id, first_rel_rank, hit_at_10, n_rel_at_10, rr_scaled,
                srr::DOUBLE / (nq::DOUBLE * 2520.0) AS mrr
         FROM p2 CROSS JOIN tot ORDER BY query_id"""),

    // X97: collocation mining — top-20 adjacent pairs by PMI lift
    // c12*N/(c1*c2), support c12 >= 5
    QueryDef("q113_collocations", CorpusQueries.collocations(_, _),
      """WITH b AS (SELECT string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
                    i -> struct_pack(w1 := w[i + 1], w2 := w[i + 2]))) AS u
                FROM b WHERE len(w) >= 2),
         pr AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM bg),
         uni AS (SELECT t, count(*) AS c FROM
                   (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
                 GROUP BY 1),
         c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
         n AS (SELECT count(*) AS n_bigrams FROM pr)
         SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
                (c12::DOUBLE * n_bigrams::DOUBLE) / (u1.c::DOUBLE * u2.c::DOUBLE)
                  AS lift
         FROM c12 JOIN uni u1 ON c12.w1 = u1.t
                  JOIN uni u2 ON c12.w2 = u2.t
                  CROSS JOIN n
         WHERE c12 >= 5
         ORDER BY lift DESC, w1, w2 LIMIT 20"""),

    // X95: tokenizer fertility — per-source tokens-per-word and REAL
    // bytes-per-token (octet_length, not character count) under the
    // trained byte-level BPE merges
    QueryDef("q111_tokenizer_fertility", CorpusQueries.tokenizerFertility(_, _),
      s"""WITH $bpeTrainingCtes,
         lut AS (SELECT array_to_string(syms, '') AS hword,
                   len(syms)::BIGINT AS n_sub FROM w5),
         dw AS (SELECT source, unnest(string_split(text, ' ')) AS word
                FROM documents)
         SELECT source, count(*) AS n_words, sum(n_sub)::BIGINT AS n_tokens,
                CAST(sum(strlen(word)) AS BIGINT) AS n_bytes,
                sum(n_sub)::DOUBLE / count(*)::DOUBLE AS fertility,
                sum(strlen(word))::DOUBLE / sum(n_sub)::DOUBLE
                  AS bytes_per_token
         FROM dw JOIN lut ON hex(word) = hword
         WHERE word <> '' GROUP BY 1 ORDER BY 1"""),

    // X82: per-key probe-side counts, top-10 heavy keys, max/mean skew
    QueryDef("q99_skew_report", CorpusQueries.skewReport(_, _),
      """WITH cnt AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
         stats AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total,
                     max(n) AS max_n FROM cnt)
         SELECT l_suppkey, n, n::DOUBLE / total::DOUBLE AS share, n_keys,
                max_n::DOUBLE / (total::DOUBLE / n_keys::DOUBLE) AS skew_factor
         FROM cnt CROSS JOIN stats
         ORDER BY n DESC, l_suppkey LIMIT 10"""),

    // X106: per-dim standardization from floor-scaled integer moments
    // (associative long sums == the Spark LongVecSumAgg reduction);
    // z expression replayed with the identical op tree
    QueryDef("q122_standardize", CorpusQueries.standardizeEmbeddings(_, _),
      """WITH cells AS (SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
                        FROM embeddings, range(1, 65) t(i)),
         stats AS (SELECT dim,
                     sum(CAST(floor(v * 1000000000.0) AS BIGINT)) AS ss,
                     sum(CAST(floor(v * v * 1000000000.0) AS BIGINT)) AS sq,
                     count(*) AS n
                   FROM cells GROUP BY 1),
         m AS (SELECT dim, (ss::DOUBLE / 1000000000.0) / n::DOUBLE AS mean,
                 (sq::DOUBLE / 1000000000.0) / n::DOUBLE -
                   ((ss::DOUBLE / 1000000000.0) / n::DOUBLE) *
                   ((ss::DOUBLE / 1000000000.0) / n::DOUBLE) AS var
               FROM stats)
         SELECT vec_id, dim,
                CASE WHEN var <= 0.0 THEN 0.0
                     ELSE (v - mean) / sqrt(var) END AS z
         FROM cells JOIN m USING (dim)
         ORDER BY vec_id, dim"""),

    // X75: global per-dim affine int8 quantization + dequant error,
    // identical op order in both engines
    QueryDef("q93_quantize_int8", CorpusQueries.quantizeInt8(_, _),
      """WITH cells AS (SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
                        FROM embeddings, range(1, 65) t(i)),
         stats AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM cells GROUP BY 1)
         SELECT vec_id, dim,
                CASE WHEN mx = mn THEN 0 ELSE
                  CAST(round((v - mn) / (mx - mn) * 254.0 - 127.0) AS BIGINT) END AS q,
                CASE WHEN mx = mn THEN 0.0 ELSE
                  abs((CAST(round((v - mn) / (mx - mn) * 254.0 - 127.0) AS BIGINT)::DOUBLE
                         + 127.0) / 254.0 * (mx - mn) + mn - v) END AS err
         FROM cells JOIN stats USING (dim)
         ORDER BY vec_id, dim"""),

    // X107: exact mutual-5-NN graph — each unordered pair's cosine
    // computed once (same fold as the Spark block-grid pass), mirrored,
    // per-source rank, mutual equi-join
    QueryDef("q123_mutual_knn", CorpusQueries.mutualKnn(_, _),
      s"""WITH p AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
                  ${cosine("a.embedding", "b.embedding")} AS sim
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
         d AS (SELECT ida AS src, idb AS dst, sim FROM p
               UNION ALL SELECT idb, ida, sim FROM p),
         r AS (SELECT src, dst, sim,
                 row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
               FROM d),
         k AS (SELECT src, dst, sim, rnk FROM r WHERE rnk <= 5)
         SELECT a.src AS vec_a, a.dst AS vec_b, a.sim AS sim,
                a.rnk AS rnk_ab, b.rnk AS rnk_ba
         FROM k a JOIN k b ON a.src = b.dst AND a.dst = b.src
         WHERE a.src < a.dst
         ORDER BY vec_a, vec_b"""),

    // X108: DSIR-style hashed importance scores — integer bucket counts,
    // one fixed-point ratio per bucket (exact long products, one
    // correctly-rounded division), exact long per-doc sums
    QueryDef("q124_dsir_weights", CorpusQueries.dsirWeights(_, _),
      s"""WITH toks AS (SELECT doc_id,
                  (${md5h56("doc_id::VARCHAR")}) % 20 = 0 AS tgt,
                  (${md5h56("tok")}) % 4096 AS bkt
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents)),
         cnt AS (SELECT bkt,
                   sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct,
                   sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS cr
                 FROM toks GROUP BY 1),
         tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM cnt),
         w AS (SELECT bkt,
                 floor(((ct + 1) * (nr + 4096))::DOUBLE /
                       ((cr + 1) * (nt + 4096))::DOUBLE * 1e9)::BIGINT AS w
               FROM cnt CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens, sum(w)::BIGINT AS score_fp,
                (sum(w)::BIGINT::DOUBLE / count(*)::DOUBLE) / 1e9 AS avg_ratio
         FROM toks JOIN w USING (bkt) WHERE NOT tgt
         GROUP BY doc_id ORDER BY doc_id"""),

    // X109: C4/Gopher rule report — integer word-array folds, exact
    // double fractions, per-rule 0/1 flags + conjunctive keep
    QueryDef("q125_rule_filter", CorpusQueries.ruleFilter(_, _),
      """WITH m AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         s AS (SELECT doc_id, text,
                 len(ws)::BIGINT AS n_words,
                 list_sum(list_transform(ws, x -> length(x)))::DOUBLE
                   / len(ws)::DOUBLE AS mean_word_len,
                 len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
                   / len(ws)::DOUBLE AS frac_alpha,
                 len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...')))::DOUBLE
                   / len(ws)::DOUBLE AS frac_symbol,
                 (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END)::BIGINT AS stop_hits,
                 right(text, 1) IN ('.', '!', '?', '"') AS ends_punct,
                 contains(lower(text), 'lorem ipsum') AS has_lorem,
                 contains(text, '{') AS has_brace
               FROM m),
         f AS (SELECT *,
                 CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END::BIGINT AS r_word_count,
                 CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END::BIGINT AS r_mean_wl,
                 CASE WHEN frac_alpha >= 0.8 THEN 1 ELSE 0 END::BIGINT AS r_alpha,
                 CASE WHEN frac_symbol <= 0.1 THEN 1 ELSE 0 END::BIGINT AS r_symbol,
                 CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END::BIGINT AS r_stopwords,
                 CASE WHEN ends_punct THEN 1 ELSE 0 END::BIGINT AS r_end_punct,
                 CASE WHEN NOT has_lorem THEN 1 ELSE 0 END::BIGINT AS r_no_lorem,
                 CASE WHEN NOT has_brace THEN 1 ELSE 0 END::BIGINT AS r_no_brace
               FROM s)
         SELECT doc_id, n_words, mean_word_len, frac_alpha, frac_symbol,
                stop_hits, r_word_count, r_mean_wl, r_alpha, r_symbol,
                r_stopwords, r_end_punct, r_no_lorem, r_no_brace,
                (r_word_count * r_mean_wl * r_alpha * r_symbol * r_stopwords
                 * r_end_punct * r_no_lorem * r_no_brace)::BIGINT AS keep
         FROM f ORDER BY doc_id"""),

    // X110: dedup threshold calibration — the q29 all-pairs core grouped
    // per candidate threshold; LEFT JOIN keeps zero-survivor rows
    QueryDef("q126_dedup_sweep", CorpusQueries.dedupSweep(_, _),
      s"""WITH $shingleCte,
         shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h FROM sh),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nc
               FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         sz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY 1),
         j AS (SELECT doc_a, doc_b, nc::DOUBLE/(sa.n + sb.n - nc) AS jacc
               FROM p JOIN sz sa ON doc_a = sa.doc_id
                      JOIN sz sb ON doc_b = sb.doc_id),
         t(threshold) AS (VALUES (0.5::DOUBLE), (0.6::DOUBLE), (0.7::DOUBLE),
                                 (0.8::DOUBLE), (0.9::DOUBLE)),
         pt AS (SELECT threshold, count(*)::BIGINT AS n_pairs
                FROM j JOIN t ON jacc >= threshold GROUP BY 1),
         dt AS (SELECT threshold, count(DISTINCT doc)::BIGINT AS n_docs
                FROM (SELECT doc_a AS doc, jacc FROM j
                      UNION ALL SELECT doc_b, jacc FROM j) u
                JOIN t ON jacc >= threshold GROUP BY 1)
         SELECT threshold, coalesce(n_pairs, 0) AS n_pairs,
                coalesce(n_docs, 0) AS n_docs
         FROM t LEFT JOIN pt USING (threshold) LEFT JOIN dt USING (threshold)
         ORDER BY threshold"""),

    // X111: deterministic Lloyd k-means, 2 unrolled rounds — lowest-id
    // seeds, cosine-argmax assignment (csim DESC, cid tiebreak),
    // fixed-point per-dim centroid means (floor-scaled long sums)
    QueryDef("q127_kmeans", CorpusQueries.kmeansTrain(_, _), kmeansOracle(rounds = 2,
      finalSelect = """SELECT vec_id, centroid_id, csim FROM fin
         ORDER BY vec_id""")),

    // X112: leakage-safe groupwise split — the q50 components CTE, all
    // docs LEFT JOINed (singletons key by doc_id), q53 bucket convention
    QueryDef("q128_groupwise_split", CorpusQueries.groupwiseSplit(_, _),
      s"""WITH RECURSIVE $dupGroupCtes,
         g AS (SELECT node AS doc_id, min(reach) AS group_id
               FROM r GROUP BY node),
         wg AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_id
                FROM documents d LEFT JOIN g USING (doc_id)),
         b AS (SELECT doc_id, group_id,
                 (${md5h56("group_id::VARCHAR")}) % 100 AS bkt FROM wg)
         SELECT doc_id, group_id,
                CASE WHEN bkt < 80 THEN 'train'
                     WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
         FROM b ORDER BY doc_id"""),

    // X113: per-label bottom-5 by cosine to the label's fixed-point
    // centroid (mislabeled-embedding sweep)
    QueryDef("q129_label_outliers", CorpusQueries.labelOutliers(_, _),
      s"""WITH cells AS (SELECT vec_id, label, i - 1 AS dim,
                  embedding[i]::DOUBLE AS v
                FROM embeddings, range(1, 65) t(i)),
         m AS (SELECT label, dim,
                 sum(CAST(floor(v * 1000000000.0) AS BIGINT)) AS ss,
                 count(*) AS n
               FROM cells GROUP BY 1, 2),
         c AS (SELECT label,
                 list((ss::DOUBLE / 1000000000.0) / n::DOUBLE ORDER BY dim) AS cvec
               FROM m GROUP BY label),
         s AS (SELECT e.vec_id, e.label, ${cosine("c.cvec", "e.embedding")} AS csim
               FROM embeddings e JOIN c USING (label)),
         r AS (SELECT label, vec_id, csim,
                 row_number() OVER (PARTITION BY label ORDER BY csim, vec_id) AS rnk
               FROM s)
         SELECT label, vec_id, csim, rnk FROM r WHERE rnk <= 5
         ORDER BY label, vec_id"""),

    // X114: k-center greedy coreset — 7 unrolled farthest-point rounds
    // from the lowest-id seed (argmin of max-cosine-to-chosen, vec_id
    // tiebreak), then nearest-center coverage with (csim DESC, center
    // ASC) tiebreak. Mirrors Coreset.kCenterGreedy round for round.
    QueryDef("q130_kcenter_coreset", CorpusQueries.kcenterCoreset(_, _), {
      // MATERIALIZED throughout: the chained c0→c7 CTEs are each
      // referenced twice per round, and inlining would re-evaluate the
      // whole prefix exponentially.
      def round(prev: String, i: Int): String =
        s"""m$i AS MATERIALIZED (SELECT e.vec_id, e.embedding,
                max(${cosine("c.embedding", "e.embedding")}) AS maxsim
              FROM embeddings e CROSS JOIN $prev c
              WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
              GROUP BY e.vec_id, e.embedding),
            s$i AS MATERIALIZED (SELECT vec_id, embedding FROM m$i
                    ORDER BY maxsim, vec_id LIMIT 1),
            c$i AS MATERIALIZED (SELECT vec_id, embedding FROM $prev
                    UNION ALL SELECT vec_id, embedding FROM s$i)"""
      val rounds = (1 to 7).map(i => round(s"c${i - 1}", i)).mkString(",\n")
      val ranks = (1 to 7)
        .map(i => s"SELECT vec_id, ${i + 1}::BIGINT AS sel_rank FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH c0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
                      ORDER BY vec_id LIMIT 1),
         $rounds,
         ranks AS (SELECT vec_id, 1::BIGINT AS sel_rank FROM c0
                   UNION ALL $ranks),
         cov AS (SELECT e.vec_id, c.vec_id AS center_id,
                   ${cosine("c.embedding", "e.embedding")} AS csim,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosine("c.embedding", "e.embedding")} DESC,
                              c.vec_id) AS rn
                 FROM embeddings e CROSS JOIN c7 c)
         SELECT v.vec_id, v.center_id, v.csim, r.sel_rank
         FROM cov v LEFT JOIN ranks r ON v.vec_id = r.vec_id
         WHERE rn = 1 ORDER BY v.vec_id"""
    }),

    // X115: synchronous label propagation over the mutual-5-NN graph —
    // the q123 graph CTEs, then 3 unrolled frequency-vote rounds
    // (count DESC, min-label ties), isolated nodes keep their label.
    // MATERIALIZED: every label CTE feeds both the next vote and the
    // next coalesce, and inlining re-evaluates the chain exponentially.
    QueryDef("q131_knn_communities", CorpusQueries.knnCommunities(_, _), {
      def round(i: Int): String =
        s"""v$i AS MATERIALIZED (SELECT b.dst AS vec_id, l.lbl, count(*) AS cnt
              FROM bid b JOIN l${i - 1} l ON b.src = l.vec_id GROUP BY 1, 2),
            w$i AS MATERIALIZED (SELECT vec_id, lbl FROM
              (SELECT vec_id, lbl, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cnt DESC, lbl) AS rn FROM v$i) WHERE rn = 1),
            l$i AS MATERIALIZED (SELECT l.vec_id, coalesce(w.lbl, l.lbl) AS lbl
              FROM l${i - 1} l LEFT JOIN w$i w USING (vec_id))"""
      s"""WITH $mutual5Ctes,
         bid AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM e
               UNION ALL SELECT vec_b, vec_a FROM e),
         l0 AS MATERIALIZED (SELECT vec_id, vec_id AS lbl FROM embeddings),
         ${round(1)}, ${round(2)}, ${round(3)},
         sizes AS (SELECT lbl, count(*) AS n_members FROM l3 GROUP BY 1)
         SELECT vec_id, lbl AS community, n_members
         FROM l3 JOIN sizes USING (lbl) ORDER BY vec_id"""
    }),

    // X116: winnowing (k=4-gram hashes, window w=4, rightmost-min
    // selection) then overlap pairs on DISTINCT selected fingerprint
    // values; replays WinnowFingerprints' selection rule relationally
    QueryDef("q132_winnow_overlap", CorpusQueries.winnowOverlap(_, _),
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g0 AS (SELECT doc_id,
               unnest(list_transform(range(0, greatest(len(ws)-4, 0) + 1),
                 i -> struct_pack(pos := i,
                        h := ${md5h56("array_to_string(ws[i+1:i+4], ' ')")}))) AS s
             FROM toks),
         g AS MATERIALIZED (SELECT doc_id, s.pos AS pos, s.h AS h FROM g0),
         ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         wj AS (SELECT doc_id, unnest(range(0, greatest(n-4, 0) + 1)) AS j
                FROM ng),
         win AS (SELECT w.doc_id, w.j, g.pos, g.h
                 FROM wj w JOIN g ON g.doc_id = w.doc_id
                  AND g.pos >= w.j AND g.pos < w.j + 4),
         sel AS (SELECT DISTINCT doc_id, h FROM
                 (SELECT doc_id, j, pos, h, row_number() OVER
                    (PARTITION BY doc_id, j ORDER BY h, pos DESC) AS rn
                  FROM win) WHERE rn = 1)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY doc_a, doc_b"""),

    // X117: interval-overlap join — closed intervals, exact micro
    // intersection length; the banded plan is oracle-invisible
    QueryDef("q133_interval_join", CorpusQueries.intervalJoin(_, _),
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vs,
                 ts + INTERVAL 600 SECOND AS ve
               FROM events WHERE event_type = 'view'),
         c AS (SELECT event_id AS click_id, user_id, ts AS cs,
                 ts + INTERVAL 300 SECOND AS ce
               FROM events WHERE event_type = 'click')
         SELECT v.user_id AS user_id, view_id, click_id,
                (epoch_us(least(ve, ce)) - epoch_us(greatest(vs, cs))) AS overlap_micros
         FROM v JOIN c ON v.user_id = c.user_id AND vs <= ce AND cs <= ve
         ORDER BY v.user_id, view_id, click_id"""),

    // X118: cluster-balanced sample — one Lloyd round, then exactly 25
    // per cluster by md5 hash rank (the q88 strata convention)
    QueryDef("q134_cluster_sample", CorpusQueries.clusterBalancedSample(_, _), kmeansOracle(rounds = 1,
      finalSelect = s"""SELECT centroid_id, vec_id, rnk FROM
           (SELECT centroid_id, vec_id, row_number() OVER
              (PARTITION BY centroid_id
               ORDER BY ${md5h56("vec_id::VARCHAR")}, vec_id) AS rnk
            FROM fin)
         WHERE rnk <= 25 ORDER BY centroid_id, rnk""")),

    // X119: curriculum interleave — per-source quality rank, then the
    // (rnk, source) walk; position replayed as a global row_number
    // (the engine side uses contiguousIds, not a partitionless window)
    QueryDef("q135_curriculum", CorpusQueries.curriculumSchedule(_, _),
      s"""WITH s AS (SELECT doc_id, source, $qualityExpr AS q FROM documents),
         r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY q DESC, doc_id) AS rnk
               FROM s)
         SELECT row_number() OVER (ORDER BY rnk, source, doc_id) - 1 AS position,
                doc_id, source, rnk
         FROM r ORDER BY position"""),

    // X120: top principal direction by power iteration — the q86
    // fixed-point Gram cells, then 8 unrolled iterations whose
    // matrix-vector products and norms are ORDERED list_sum folds (the
    // exact fold order the engine's driver loop uses), then the
    // projection via the shared dot kernel
    QueryDef("q136_pc1_projection", CorpusQueries.pc1Projection(_, _), {
      def iter(k: Int): String =
        s"""u$k AS (SELECT i, list_sum(list_transform(range(1, 65),
                j -> gr[j] * vv.v[j])) AS u
              FROM gl, v${k - 1} vv),
            n$k AS (SELECT list(u ORDER BY i) AS ul FROM u$k),
            v$k AS MATERIALIZED (SELECT list_transform(ul, x ->
                x / sqrt(list_sum(list_transform(ul, y -> y * y)))) AS v
              FROM n$k)"""
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         cells AS (SELECT i, j FROM range(0, 64) t1(i), range(0, 64) t2(j)
                   WHERE j >= i),
         prods AS (SELECT i, j,
                     CAST(round(v[i + 1]::DOUBLE * v[j + 1]::DOUBLE *
                                1000000000.0) AS BIGINT) AS x
                   FROM e, cells),
         g AS MATERIALIZED (SELECT i, j, CAST(sum(x) AS BIGINT) AS gs
              FROM prods GROUP BY 1, 2),
         gf AS (SELECT i, j, gs FROM g
                UNION ALL SELECT j, i, gs FROM g WHERE j > i),
         gl AS MATERIALIZED (SELECT i + 1 AS i,
              list(gs::DOUBLE ORDER BY j) AS gr FROM gf GROUP BY 1),
         v0 AS (SELECT list_transform(range(1, 65), x -> 0.125) AS v),
         ${(1 to 8).map(iter).mkString(",\n")}
         SELECT e.vec_id, list_sum(list_transform(range(1, 65),
                  i -> e.v[i]::DOUBLE * vv.v[i])) AS pc1_score
         FROM e, v8 vv ORDER BY e.vec_id"""
    }),

    // X121: Merkle corpus manifest — q28 fingerprints, md5 over the
    // SORTED member digests per shard, root over sorted shard digests
    QueryDef("q137_corpus_manifest", CorpusQueries.corpusManifest(_, _),
      s"""WITH f AS (SELECT (${md5h56("doc_id::VARCHAR")}) % 64 AS shard,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
               FROM documents),
         s AS (SELECT shard, count(*) AS n_docs,
                 md5(string_agg(fp, '' ORDER BY fp)) AS shard_hash
               FROM f GROUP BY 1),
         r AS (SELECT -1::BIGINT AS shard,
                 (SELECT sum(n_docs) FROM s)::BIGINT AS n_docs,
                 md5(string_agg(shard_hash, '' ORDER BY shard)) AS shard_hash
               FROM s)
         SELECT * FROM s UNION ALL SELECT * FROM r ORDER BY shard"""),

    // X122: quality-vs-length Pareto frontier — NOT EXISTS dominance
    // (identical points keep each other; the engine's local-frontier
    // merge must produce the same SET)
    QueryDef("q138_pareto", CorpusQueries.paretoFrontier(_, _),
      s"""WITH s AS MATERIALIZED (SELECT doc_id, $qualityExpr AS quality,
                 $tokenCount::BIGINT AS n_tokens
               FROM documents)
         SELECT doc_id, quality, n_tokens FROM s a
         WHERE NOT EXISTS (SELECT 1 FROM s b
           WHERE b.quality >= a.quality AND b.n_tokens <= a.n_tokens
             AND (b.quality > a.quality OR b.n_tokens < a.n_tokens))
         ORDER BY doc_id"""),

    // X123: triangles + clustering coefficients on the mutual-5-NN
    // graph — wedge join + closing-edge join, each triangle a<b<c once
    QueryDef("q139_knn_triangles", CorpusQueries.knnTriangles(_, _),
      s"""WITH $mutual5Ctes,
         eo AS MATERIALIZED (SELECT vec_a AS lo, vec_b AS hi FROM e),
         w AS (SELECT x.lo AS a, x.hi AS b, y.hi AS c
               FROM eo x JOIN eo y ON x.lo = y.lo AND x.hi < y.hi),
         t AS (SELECT a, b, c FROM w JOIN eo ON w.b = eo.lo AND w.c = eo.hi),
         pn AS (SELECT vec_id, count(*) AS n_triangles
                FROM (SELECT unnest([a, b, c]) AS vec_id FROM t) GROUP BY 1),
         dg AS (SELECT vec_id, count(*) AS degree
                FROM (SELECT unnest([lo, hi]) AS vec_id FROM eo) GROUP BY 1)
         SELECT dg.vec_id, degree, coalesce(n_triangles, 0) AS n_triangles,
                CASE WHEN degree >= 2 THEN
                  coalesce(n_triangles, 0)::DOUBLE * 2.0 /
                    (degree * (degree - 1))::DOUBLE
                ELSE 0.0 END AS clustering_coeff
         FROM dg LEFT JOIN pn USING (vec_id) ORDER BY dg.vec_id"""),

    // X124: half-life-decayed counts — exact 2^-h weights ((1<<h)
    // shifts, never libm pow/exp), ordered fold over the ≤53 buckets
    QueryDef("q140_decayed_counts", CorpusQueries.decayedCounts(_, _),
      """WITH pd AS (SELECT event_type AS k,
                 epoch_us(ts) // 86400000000 AS d, count(*) AS c
               FROM events GROUP BY 1, 2),
         st AS (SELECT max(d) AS maxd FROM pd),
         hb AS (SELECT k, (maxd - d) // 7 AS hl, sum(c)::BIGINT AS cnt
                FROM pd, st GROUP BY 1, 2)
         SELECT k AS event_type, sum(cnt)::BIGINT AS n_events,
                list_sum(list(cnt::DOUBLE / (1::BIGINT << hl)::DOUBLE
                    ORDER BY hl) FILTER (WHERE hl <= 52)) AS decayed_count
         FROM hb GROUP BY k ORDER BY event_type"""),

    // X125: shard-level manifest diff vs a deterministically tampered
    // copy (1/97 edited, 1/89 dropped) — two q137 manifests full-outer
    // joined on shard
    QueryDef("q141_manifest_diff", CorpusQueries.manifestDiff(_, _), {
      def man(src: String, out: String) =
        s"""f$out AS (SELECT (${md5h56("doc_id::VARCHAR")}) % 64 AS shard,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
               FROM $src),
           s$out AS (SELECT shard, count(*) AS n_docs,
                 md5(string_agg(fp, '' ORDER BY fp)) AS shard_hash
               FROM f$out GROUP BY 1),
           m$out AS (SELECT * FROM s$out UNION ALL
               SELECT -1::BIGINT, (SELECT sum(n_docs) FROM s$out)::BIGINT,
                      md5(string_agg(shard_hash, '' ORDER BY shard))
               FROM s$out)"""
      s"""WITH bdocs AS (SELECT doc_id,
               CASE WHEN (${md5h56("doc_id::VARCHAR")}) % 97 = 0
                    THEN text || ' v2' ELSE text END AS text
             FROM documents
             WHERE (${md5h56("doc_id::VARCHAR")}) % 89 <> 0),
         ${man("documents", "a")},
         ${man("bdocs", "b")}
         SELECT coalesce(ma.shard, mb.shard) AS shard,
                CASE WHEN ma.shard_hash IS NULL THEN 'only_b'
                     WHEN mb.shard_hash IS NULL THEN 'only_a'
                     WHEN ma.shard_hash = mb.shard_hash THEN 'same'
                     ELSE 'changed' END AS status,
                ma.n_docs AS n_docs_a, mb.n_docs AS n_docs_b
         FROM ma FULL OUTER JOIN mb ON ma.shard = mb.shard
         ORDER BY shard"""
    }),

    // X126: KMV join preflight — bottom-256 order statistics, the q85
    // estimator, inclusion-exclusion intersection over the merged sketch
    QueryDef("q142_join_preflight", CorpusQueries.joinPreflight(_, _), {
      def side(src: String, key: String, out: String) =
        s"""h$out AS (SELECT DISTINCT ${md5h56(s"$key::VARCHAR")} AS h FROM $src),
           r$out AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h$out),
           g$out AS (SELECT count(*) AS nd,
                 count(*) FILTER (WHERE rn <= 256) AS sz,
                 max(CASE WHEN rn = 256 THEN h END) AS hk FROM r$out)"""
      def est(g: String) =
        s"""CASE WHEN $g.sz < 256 THEN $g.sz::DOUBLE
            ELSE 255.0 * 7.2057594037927936e16 / $g.hk::DOUBLE END"""
      s"""WITH ${side("orders", "o_custkey", "a")},
         ${side("customer", "c_custkey", "b")},
         hu AS (SELECT DISTINCT h FROM
                (SELECT h FROM ra WHERE rn <= 256
                 UNION ALL SELECT h FROM rb WHERE rn <= 256)),
         ru AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hu),
         gu AS (SELECT count(*) AS sz,
                max(CASE WHEN rn = 256 THEN h END) AS hk FROM ru),
         ex AS (SELECT count(*) AS nd_intersect FROM
                (SELECT DISTINCT o_custkey FROM orders) o
                JOIN (SELECT DISTINCT c_custkey FROM customer) c
                  ON o.o_custkey = c.c_custkey),
         e AS (SELECT ga.nd::BIGINT AS nd_a, gb.nd::BIGINT AS nd_b,
                 ex.nd_intersect::BIGINT AS nd_intersect,
                 ${est("ga")} AS est_a, ${est("gb")} AS est_b,
                 CASE WHEN gu.sz < 256 THEN gu.sz::DOUBLE
                      ELSE 255.0 * 7.2057594037927936e16 / gu.hk::DOUBLE
                 END AS est_union
               FROM ga, gb, gu, ex)
         SELECT nd_a, nd_b, nd_intersect, est_a, est_b, est_union,
                greatest(0.0, est_a + est_b - est_union) AS est_intersect,
                abs(greatest(0.0, est_a + est_b - est_union) -
                    nd_intersect::DOUBLE) <=
                  0.35 * greatest(nd_intersect::DOUBLE, 1.0) AS est_ok
         FROM e"""
    }),

    // X128: per-source boilerplate strip — 2-token chunks with
    // within-source doc-frequency ≥ max(2, ceil(10% of the source's
    // docs)) excised from every doc of the source (no keeper);
    // integer threshold arithmetic mirrors the Spark side exactly
    QueryDef("q143_boilerplate", CorpusQueries.boilerplateStrip(_, _),
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
         ch AS (SELECT doc_id, source, unnest(range(0, ((len(w) + 1) // 2))) AS idx, w
                FROM w),
         c2 AS (SELECT doc_id, source, idx,
                  array_to_string(w[idx*2+1 : idx*2+2], ' ') AS chunk
                FROM ch),
         nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         b AS (SELECT df.source, df.chunk FROM
                 (SELECT source, chunk, count(DISTINCT doc_id) AS df
                  FROM c2 GROUP BY 1, 2) df
               JOIN nd USING (source)
               WHERE df >= greatest(2, (n_docs * 10 + 99) // 100)),
         m AS (SELECT c2.doc_id, c2.source, c2.idx, c2.chunk,
                 (b.chunk IS NOT NULL) AS is_b
               FROM c2 LEFT JOIN b
                 ON c2.source = b.source AND c2.chunk = b.chunk)
         SELECT doc_id, any_value(source) AS source, count(*) AS n_chunks,
                count(*) FILTER (is_b) AS n_boiler,
                string_agg(chunk, ' ' ORDER BY idx) FILTER (NOT is_b) AS new_text
         FROM m GROUP BY doc_id ORDER BY doc_id"""),

    // X129: φ=1/64 heavy hitters — the Spark side runs Misra–Gries
    // prefilter + broadcast recount, but its OUTPUT is exact, so the
    // twin is the plain definition (GROUP BY + integer HAVING)
    QueryDef("q144_heavy_hitters", CorpusQueries.heavyHitters(_, _),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
         n AS (SELECT count(*) AS n_total FROM t),
         c AS (SELECT item, count(*) AS cnt FROM t GROUP BY 1)
         SELECT item, cnt, n_total FROM c CROSS JOIN n
         WHERE cnt * 64 > n_total ORDER BY cnt DESC, item"""),

    // X130: HITS token authorities — 4 unrolled fixed-point rounds,
    // multiply-free max-normalization `s // (m // SCALE)` (the Spark
    // side's exact arithmetic; CASTs pin DuckDB's HUGEINT sums back to
    // the BIGINT lattice Spark computes on)
    QueryDef("q145_token_hits", CorpusQueries.docTokenHits(_, _), {
      val S = 1000000000000L
      def aRound(i: Int, hubSrc: String) =
        s"""a${i}r AS (SELECT dst, CAST(sum(score) AS BIGINT) AS s
               FROM e JOIN $hubSrc USING (src) GROUP BY 1),
           a$i AS (SELECT dst, CAST(s // (m // $S) AS BIGINT) AS score
               FROM a${i}r, (SELECT max(s) AS m FROM a${i}r))"""
      def hRound(i: Int) =
        s"""h${i}r AS (SELECT src, CAST(sum(score) AS BIGINT) AS s
               FROM e JOIN a$i USING (dst) GROUP BY 1),
           h$i AS (SELECT src, CAST(s // (m // $S) AS BIGINT) AS score
               FROM h${i}r, (SELECT max(s) AS m FROM h${i}r))"""
      val rounds = (1 to 4).map { i =>
        aRound(i, s"h${i - 1}") + (if (i < 4) ",\n" + hRound(i) else "")
      }.mkString(",\n")
      s"""WITH tok AS (SELECT doc_id AS src, unnest(string_split(text, ' ')) AS dst
                       FROM documents),
         e AS (SELECT DISTINCT src, dst FROM tok),
         h0 AS (SELECT DISTINCT src, CAST($S AS BIGINT) AS score FROM e),
         $rounds
         SELECT dst AS token, score AS auth_scaled FROM a4
         ORDER BY auth_scaled DESC, token"""
    }),

    // X131: RRF fusion of the full and 16-dim matryoshka cosine top-10
    // rankings — Σ 1000000 // (60+rank), exact integer, top-5 per query
    QueryDef("q146_rrf_fusion", CorpusQueries.rrfFusion(_, _),
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              WHERE vec_id < 10),
         c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
         sf AS (SELECT query_id, vec_id, ${cosine("qv", "embedding")} AS sim
                FROM c, q),
         rf AS (SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk_full
                FROM sf QUALIFY rnk_full <= 10),
         st AS (SELECT query_id, vec_id, ${cosineD("qv", "embedding", 16)} AS sim
                FROM c, q),
         rt AS (SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, vec_id) AS rnk_trunc
                FROM st QUALIFY rnk_trunc <= 10),
         u AS (SELECT coalesce(rf.query_id, rt.query_id) AS query_id,
                 coalesce(rf.vec_id, rt.vec_id) AS vec_id,
                 CAST(coalesce(1000000 // (60 + rnk_full), 0) +
                      coalesce(1000000 // (60 + rnk_trunc), 0) AS BIGINT)
                   AS rrf_scaled,
                 rnk_full IS NOT NULL AS in_full,
                 rnk_trunc IS NOT NULL AS in_trunc
               FROM rf FULL OUTER JOIN rt
                 ON rf.query_id = rt.query_id AND rf.vec_id = rt.vec_id),
         r AS (SELECT u.*, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_scaled DESC, vec_id) AS rnk FROM u)
         SELECT query_id, vec_id, rrf_scaled, in_full, in_trunc, rnk
         FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""),

    // X132: simplified (centroid-based) silhouette over the X111
    // k-means clustering — per-vector s floor-scales to a long BEFORE
    // the per-cluster mean (exact integer sum, reduction-order-free)
    QueryDef("q147_silhouette", CorpusQueries.kmeansSilhouette(_, _), kmeansOracle(rounds = 2,
      s"""SELECT centroid_id, count(*) AS n,
            (sum(s_scaled)::DOUBLE / 1000000000.0) / count(*)::DOUBLE AS sil_avg
          FROM (
            SELECT vec_id,
              max(CASE WHEN rn = 1 THEN cid END) AS centroid_id,
              CAST(floor(CASE
                WHEN (1.0 - max(CASE WHEN rn = 2 THEN csim END)) > 0.0
                THEN (((1.0 - max(CASE WHEN rn = 2 THEN csim END)) -
                       (1.0 - max(CASE WHEN rn = 1 THEN csim END))) /
                      (1.0 - max(CASE WHEN rn = 2 THEN csim END))) * 1000000000.0
                ELSE 0.0 END) AS BIGINT) AS s_scaled
            FROM (SELECT e.vec_id, c.cid,
                    ${cosine("c.cvec", "e.embedding")} AS csim,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${cosine("c.cvec", "e.embedding")} DESC, c.cid)
                      AS rn
                  FROM embeddings e CROSS JOIN c2 c)
            WHERE rn <= 2 GROUP BY vec_id)
          GROUP BY centroid_id ORDER BY centroid_id""")),

    // X133: URL canonicalization over deterministically synthesized
    // messy URLs — every rule an explicit regex shared verbatim with
    // the Spark expressions
    QueryDef("q148_url_canonical", CorpusQueries.urlCanonical(_, _),
      """WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
             (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
             source || '.Example.COM' ||
             (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
             '/p/' || doc_id::VARCHAR ||
             (CASE WHEN doc_id % 7 = 0 THEN '/index.html' ELSE '' END) ||
             '?utm_source=feed&id=' || doc_id::VARCHAR || '&ref=twitter' ||
             (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
           FROM documents),
         h AS (SELECT doc_id, url,
             regexp_replace(regexp_replace(
               lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
               '^www\.', ''), ':(443|80)$', '') AS host,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
             regexp_extract(url, '\?([^#]*)', 1) AS q0
           FROM u),
         p AS (SELECT doc_id, url, host,
             CASE WHEN len(path0) = 0 THEN '/'
                  ELSE regexp_replace(path0, '/index\.html$', '/') END AS path,
             array_to_string(list_sort(list_filter(string_split(q0, '&'),
               x -> len(x) > 0 AND substr(x, 1, 4) <> 'utm_'
                    AND substr(x, 1, 4) <> 'ref=')), '&') AS qs
           FROM h)
         SELECT doc_id, url, host,
                'https://' || host || path ||
                (CASE WHEN len(qs) > 0 THEN '?' || qs ELSE '' END)
                  AS canonical_url
         FROM p ORDER BY doc_id"""),

    // X134: trailing-7-observed-days anomaly z-scores — exact long
    // window sums, then the identical double chain (sqrt is correctly
    // rounded in IEEE, so both engines agree)
    QueryDef("q149_daily_anomaly", CorpusQueries.dailyAnomaly(_, _),
      """WITH d AS (SELECT event_type, date_trunc('day', ts)::DATE AS day,
                count(*) AS n
              FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, n,
                 sum(n) OVER f AS s, sum(n * n) OVER f AS ss,
                 count(n) OVER f AS c
               FROM d
               WINDOW f AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, day, n,
                CAST(s AS DOUBLE) / 7.0 AS mean7,
                CASE WHEN (CAST(ss AS DOUBLE) -
                           CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 7.0) / 7.0 > 0.0
                     THEN (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / 7.0) /
                          sqrt((CAST(ss AS DOUBLE) -
                                CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 7.0) / 7.0)
                     ELSE 0.0 END AS z,
                abs(CASE WHEN (CAST(ss AS DOUBLE) -
                               CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 7.0) / 7.0 > 0.0
                         THEN (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / 7.0) /
                              sqrt((CAST(ss AS DOUBLE) -
                                    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / 7.0) / 7.0)
                         ELSE 0.0 END) > 2.0 AS is_anomaly
         FROM w WHERE c = 7 ORDER BY event_type, day"""),

    // X136: blocked fuzzy linkage — same digit-slice/length-band
    // blocking, textbook Levenshtein verify (both engines agree on the
    // exact distances)
    QueryDef("q150_fuzzy_linkage", CorpusQueries.fuzzyLinkage(_, _),
      """WITH a AS (SELECT c_custkey AS id, c_name AS name FROM customer),
         b AS (SELECT c_custkey + 1000000 AS id,
                 CASE WHEN c_custkey % 3 = 0
                   THEN concat(
                        substr(c_name, 1, CAST(10 + (c_custkey // 3) % 3 AS INT)),
                        'X',
                        substr(c_name, CAST(12 + (c_custkey // 3) % 3 AS INT)))
                   ELSE c_name END AS name
               FROM customer),
         ab AS (SELECT a.id AS a_id, b.id AS b_id,
                  a.name AS a_name, b.name AS b_name,
                  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
                FROM a JOIN b
                  ON substr(a.name, 14, 4) = substr(b.name, 14, 4)
                 AND length(a.name) // 4 = length(b.name) // 4)
         SELECT a_id, b_id, a_name, b_name, dist FROM ab
         WHERE dist <= 1 ORDER BY a_id, b_id"""),

    // X137: session-scoped co-visitation — q42's session CTE, distinct
    // per-session item sets, a<b pairs, exact-ratio lift (X97 trick)
    QueryDef("q151_covisit", CorpusQueries.covisitPairs(_, _),
      """WITH l AS (SELECT user_id, ts, event_type,
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events),
         g AS (SELECT user_id, event_type,
                CAST(sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 14400 SECONDS
                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
              FROM l),
         d AS (SELECT DISTINCT user_id, session_seq, event_type FROM g),
         pc AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
                  count(*) AS n_ab
                FROM d a JOIN d b ON a.user_id = b.user_id
                  AND a.session_seq = b.session_seq
                  AND a.event_type < b.event_type
                GROUP BY 1, 2 HAVING count(*) >= 5),
         ic AS (SELECT event_type AS item, count(*) AS n_i FROM d GROUP BY 1),
         ns AS (SELECT count(*) AS n_sessions FROM
                (SELECT DISTINCT user_id, session_seq FROM g))
         SELECT item_a, item_b, n_ab, ca.n_i AS n_a, cb.n_i AS n_b,
                n_sessions,
                CAST(n_ab * n_sessions AS DOUBLE) /
                  CAST(ca.n_i * cb.n_i AS DOUBLE) AS lift
         FROM pc JOIN ic ca ON pc.item_a = ca.item
                 JOIN ic cb ON pc.item_b = cb.item
                 CROSS JOIN ns
         ORDER BY lift DESC, item_a, item_b"""),

    // X138: trailing-7-day distinct via merged daily KMV bottom-k —
    // per-day bottom-256 hash sets, date-range window union, ranked
    // merge, X67 order-statistic estimate (exact when sub-k)
    QueryDef("q152_sliding_distinct", CorpusQueries.slidingDistinct(_, _), {
      val h = md5h56("user_id::VARCHAR")
      s"""WITH e AS (SELECT date_trunc('day', ts)::DATE AS day, $h AS h
                     FROM events),
         dh AS (SELECT DISTINCT day, h FROM e),
         dk AS (SELECT day, h FROM
                 (SELECT day, h, row_number() OVER (PARTITION BY day
                    ORDER BY h) AS rn FROM dh)
                WHERE rn <= 256),
         days AS (SELECT DISTINCT day FROM dh),
         nd AS (SELECT d.day, count(DISTINCT d2.day) AS n_days
                FROM days d JOIN days d2
                  ON d.day - d2.day BETWEEN 0 AND 6 GROUP BY 1),
         win AS (SELECT DISTINCT d.day, dk.h
                 FROM days d JOIN dk ON d.day - dk.day BETWEEN 0 AND 6),
         wd AS (SELECT day, h, row_number() OVER (PARTITION BY day
                  ORDER BY h) AS rn FROM win),
         g AS (SELECT day, count(*) FILTER (rn <= 256) AS sz,
                 max(CASE WHEN rn = 256 THEN h END) AS hk
               FROM wd GROUP BY 1)
         SELECT g.day, nd.n_days,
                CASE WHEN g.sz < 256 THEN g.sz::DOUBLE
                     ELSE 255.0 * 7.2057594037927936e16 / g.hk::DOUBLE
                END AS est_distinct,
                g.sz < 256 AS is_exact
         FROM g JOIN nd USING (day) ORDER BY g.day"""
    }),

    // X139: calendar gap-fill with linear interpolation — per-column
    // conditional IGNORE-NULLS window edges (same frame + same guard
    // keeps the (day, n) neighbor pair consistent), exact-operand
    // interpolation arithmetic
    QueryDef("q153_gap_fill", CorpusQueries.gapFill(_, _),
      """WITH d0 AS (SELECT event_type, date_trunc('day', ts)::DATE AS day,
                count(*) AS n
              FROM events GROUP BY 1, 2),
         d AS (SELECT * FROM d0 WHERE extract(day FROM day) % 5 <> 0),
         cal AS (SELECT event_type,
                   unnest(generate_series(mind, maxd, INTERVAL 1 DAY))::DATE AS day
                 FROM (SELECT event_type, min(day) AS mind, max(day) AS maxd
                       FROM d GROUP BY 1)),
         j AS (SELECT cal.event_type, cal.day, d.n
               FROM cal LEFT JOIN d
                 ON cal.event_type = d.event_type AND cal.day = d.day),
         w AS (SELECT event_type, day, n,
                 last_value(CASE WHEN n IS NOT NULL THEN n END IGNORE NULLS)
                   OVER p AS pn,
                 last_value(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
                   OVER p AS pd,
                 first_value(CASE WHEN n IS NOT NULL THEN n END IGNORE NULLS)
                   OVER x AS xn,
                 first_value(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
                   OVER x AS xd
               FROM j
               WINDOW p AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      x AS (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
         SELECT event_type, day,
                CASE WHEN n IS NOT NULL THEN n::DOUBLE
                     ELSE pn::DOUBLE +
                          CAST((xn - pn) * (day - pd) AS DOUBLE) /
                          CAST(xd - pd AS DOUBLE) END AS n_filled,
                n IS NULL AS is_interpolated
         FROM w ORDER BY event_type, day"""),

    // X140: exact per-source two-sample KS — integer ECDF numerators,
    // one final double division
    QueryDef("q154_ks_drift", CorpusQueries.ksDrift(_, _),
      """WITH d AS (SELECT source AS k, n_chars::BIGINT AS v FROM documents),
         svc AS (SELECT k, v, count(*) AS c_sv FROM d GROUP BY 1, 2),
         ks AS (SELECT k, count(*) AS n_s FROM d GROUP BY 1),
         vs AS (SELECT v, count(*) AS c_v FROM d GROUP BY 1),
         cv AS (SELECT v, CAST(sum(c_v) OVER (ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_v FROM vs),
         t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ks),
         g AS (SELECT ks.k, ks.n_s, cv.v, cv.cum_v,
                 coalesce(svc.c_sv, 0) AS c_sv
               FROM ks CROSS JOIN cv
               LEFT JOIN svc ON svc.k = ks.k AND svc.v = cv.v),
         c AS (SELECT k, n_s, v, cum_v,
                 CAST(sum(c_sv) OVER (PARTITION BY k ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a
               FROM g)
         SELECT k AS source, min(n_s) AS n_source,
                min(n_total - n_s) AS n_rest,
                CAST(max(abs(cum_a * (n_total - n_s) -
                             (cum_v - cum_a) * n_s)) AS DOUBLE) /
                  CAST(min(n_s) * min(n_total - n_s) AS DOUBLE) AS ks
         FROM c CROSS JOIN t
         GROUP BY k ORDER BY k"""),

    // X141: consistent-hash rebalancing matrix — same 56-bit ring, same
    // vnode naming, successor-with-wraparound via FILTERed arg_min
    QueryDef("q155_consistent_hash", CorpusQueries.consistentRebalance(_, _), {
      def vn(n: Int, name: String) =
        s"""$name AS (SELECT s.s::BIGINT AS shard,
              ${md5h56("(s.s::VARCHAR || ':' || r.r::VARCHAR)")} AS pos
            FROM range(0, $n) s(s), range(0, 16) r(r))"""
      def own(vt: String, out: String, c: String) =
        s"""$out AS (SELECT k.doc_id,
              coalesce(arg_min(v.shard, v.pos) FILTER (v.pos >= k.h),
                       arg_min(v.shard, v.pos)) AS $c
            FROM k CROSS JOIN $vt v GROUP BY 1)"""
      s"""WITH k AS (SELECT doc_id, ${md5h56("doc_id::VARCHAR")} AS h
                     FROM documents),
         ${vn(8, "v8")},
         ${vn(9, "v9")},
         ${own("v8", "o8", "shard_before")},
         ${own("v9", "o9", "shard_after")}
         SELECT shard_before, shard_after, count(*) AS n_keys
         FROM o8 JOIN o9 USING (doc_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""
    }),

    // X142: Benford first-digit audit — the nine expectations are the
    // same compile-time double literals the Spark side carries
    QueryDef("q156_benford", CorpusQueries.benfordAudit(_, _), {
      val benford = Seq(
        1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
        3 -> "0.12493873660829993", 4 -> "0.09691001300805642",
        5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
        7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
        9 -> "0.04575749056067514")
      // CAST from string: DuckDB parses bare decimal literals as
      // DECIMAL first (off by an ulp after conversion); string→DOUBLE
      // is correctly rounded like the JVM literal
      val cases = benford
        .map { case (d, p) => s"WHEN $d THEN CAST('$p' AS DOUBLE)" }
        .mkString(" ")
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
              FROM orders),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
         SELECT digit, n,
                CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS freq,
                CASE digit $cases END AS benford,
                (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)) -
                  (CASE digit $cases END) AS dev
         FROM c CROSS JOIN t ORDER BY digit"""
    }),

    // X143: keyed pseudonymization — same salt:key md5-integer hash,
    // join on pseudonyms only, top-10 by order count
    QueryDef("q157_pseudonymize", CorpusQueries.pseudonymize(_, _), {
      def pz(c: String) = md5h56(s"('graft-pz1:' || $c::VARCHAR)")
      s"""WITH cust AS (SELECT ${pz("c_custkey")} AS pid, c_mktsegment
                        FROM customer),
         ords AS (SELECT ${pz("o_custkey")} AS pid FROM orders)
         SELECT cust.pid AS pid, min(c_mktsegment) AS segment,
                count(*) AS n_orders
         FROM cust JOIN ords ON cust.pid = ords.pid
         GROUP BY 1 ORDER BY n_orders DESC, cust.pid LIMIT 10"""
    }),

    // X146: percentile-clipped int8 calibration — nearest-rank cuts in
    // integer rank arithmetic, identical clamp/round/scale chain
    QueryDef("q158_clipped_quantize", CorpusQueries.clippedQuantize(_, _),
      """WITH cells AS (SELECT t.i - 1 AS dim, embedding[t.i]::DOUBLE AS v
                        FROM embeddings, range(1, 65) t(i)),
         cnts AS (SELECT dim, v, count(*) AS c FROM cells GROUP BY 1, 2),
         cum AS (SELECT dim, v, CAST(sum(c) OVER (PARTITION BY dim ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                 FROM cnts),
         n AS (SELECT dim, count(*) AS n FROM cells GROUP BY 1),
         cuts AS (SELECT cum.dim,
                    min(CASE WHEN cum >= (n + 99) // 100 THEN v END) AS lo,
                    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN v END) AS hi
                  FROM cum JOIN n USING (dim) GROUP BY 1),
         q AS (SELECT cells.dim, v, lo, hi,
                 CASE WHEN hi = lo THEN 0
                   ELSE CAST(round((least(greatest(v, lo), hi) - lo) /
                        (hi - lo) * 254.0 - 127.0) AS BIGINT) END AS qc
               FROM cells JOIN cuts ON cells.dim = cuts.dim)
         SELECT dim, min(lo) AS lo, min(hi) AS hi,
                count(*) FILTER (v < lo) AS n_sat_lo,
                count(*) FILTER (v > hi) AS n_sat_hi,
                CAST(sum(qc) AS BIGINT) AS q_sum
         FROM q GROUP BY dim ORDER BY dim"""),

    // X147: stratified k-fold — round-robin in content-hash order per
    // source stratum; token count via the q69 whitespace formula
    QueryDef("q159_kfold", CorpusQueries.kFold(_, _), {
      val h = md5h56("doc_id::VARCHAR")
      s"""WITH d AS (SELECT doc_id, source,
                (length(text) - length(replace(text, ' ', '')) + 1) AS n_tok,
                $h AS h
              FROM documents),
         f AS (SELECT doc_id, source, n_tok,
                 (row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                  - 1) % 5 AS fold
               FROM d)
         SELECT source, fold, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                min(doc_id) AS first_doc
         FROM f GROUP BY 1, 2 ORDER BY source, fold"""
    }),

    // X148: Gini audit — sorted-rank identity, exact long sums, one
    // double division per metric
    QueryDef("q160_gini", CorpusQueries.giniAudit(_, _), {
      def g(src: String, label: String) =
        s"""SELECT '$label' AS metric, count(*) AS n,
              CAST(sum(x) AS BIGINT) AS total,
              CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE) /
                CAST(count(*) * sum(x) AS DOUBLE) AS gini
            FROM (SELECT x, row_number() OVER (ORDER BY x) AS i FROM ($src))"""
      s"""${g("SELECT count(*) AS x FROM orders GROUP BY o_custkey",
            "orders_per_customer")}
         UNION ALL
         ${g("SELECT count(*) AS x FROM events GROUP BY user_id",
            "events_per_user")}
         UNION ALL
         ${g("SELECT count(*) AS x FROM documents GROUP BY source",
            "docs_per_source")}
         UNION ALL
         ${g("""SELECT count(*) AS x FROM
                 (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
                GROUP BY t""", "tokens_per_type")}
         ORDER BY metric"""
    }),

    // X149: winsorized group means — nearest-rank [p5,p95] cuts on
    // cents integers, clamp, exact long sum, one division
    QueryDef("q161_winsorized", CorpusQueries.winsorized(_, _),
      """WITH li AS (SELECT l_returnflag AS flag,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
              FROM lineitem),
         cnts AS (SELECT flag, cents, count(*) AS c FROM li GROUP BY 1, 2),
         cum AS (SELECT flag, cents, CAST(sum(c) OVER (PARTITION BY flag
                   ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                 FROM cnts),
         n AS (SELECT flag, count(*) AS n FROM li GROUP BY 1),
         cuts AS (SELECT cum.flag,
                    min(CASE WHEN cum >= (5 * n + 99) // 100 THEN cents END) AS lo,
                    min(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END) AS hi,
                    min(n) AS n
                  FROM cum JOIN n USING (flag) GROUP BY 1)
         SELECT li.flag, min(cuts.n) AS n, min(lo) AS lo_cents,
                min(hi) AS hi_cents,
                count(*) FILTER (cents < lo OR cents > hi) AS n_clamped,
                CAST(sum(least(greatest(cents, lo), hi)) AS DOUBLE) / 100.0 /
                  CAST(min(cuts.n) AS DOUBLE) AS winsorized_mean
         FROM li JOIN cuts ON li.flag = cuts.flag
         GROUP BY li.flag ORDER BY li.flag"""),

    // X150: fixed-round 3-core peeling over the mutual-5-NN graph —
    // 5 unrolled degree/filter rounds (MATERIALIZED: each alive set
    // feeds two consumers)
    QueryDef("q162_kcore", CorpusQueries.kcorePeel(_, _), {
      def round(i: Int) =
        s"""d$i AS MATERIALIZED (SELECT b.src AS vec_id, count(*) AS deg
              FROM bid b JOIN a${i - 1} s ON b.src = s.vec_id
                         JOIN a${i - 1} t ON b.dst = t.vec_id
              GROUP BY 1),
            a$i AS MATERIALIZED (SELECT a.vec_id FROM a${i - 1} a
              JOIN d$i d ON a.vec_id = d.vec_id WHERE d.deg >= 3),
            rm$i AS (SELECT a.vec_id, CAST($i AS BIGINT) AS rr
              FROM a${i - 1} a LEFT JOIN a$i k ON a.vec_id = k.vec_id
              WHERE k.vec_id IS NULL)"""
      s"""WITH $mutual5Ctes,
         bid AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM e
               UNION ALL SELECT vec_b, vec_a FROM e),
         a0 AS (SELECT vec_id FROM embeddings),
         ${round(1)}, ${round(2)}, ${round(3)}, ${round(4)}, ${round(5)},
         rem AS (SELECT * FROM rm1 UNION ALL SELECT * FROM rm2
                 UNION ALL SELECT * FROM rm3 UNION ALL SELECT * FROM rm4
                 UNION ALL SELECT * FROM rm5),
         fd AS (SELECT b.src AS vec_id, count(*) AS deg
                FROM bid b JOIN a5 s ON b.src = s.vec_id
                           JOIN a5 t ON b.dst = t.vec_id
                GROUP BY 1)
         SELECT n.vec_id, rem.rr AS removed_round,
                CASE WHEN rem.rr IS NULL THEN coalesce(fd.deg, 0) END
                  AS final_deg
         FROM embeddings n LEFT JOIN rem ON n.vec_id = rem.vec_id
                           LEFT JOIN fd ON n.vec_id = fd.vec_id
         ORDER BY n.vec_id"""
    }),

    // X209: fixed-round k-truss peel — per round: oriented-wedge
    // triangles, 3-role edge-support counts, support >= k-2 survival;
    // survivors' final support recounted on the closing edge set
    QueryDef("q218_ktruss", CorpusQueries.ktrussPeel(_, _), {
      def round(i: Int) =
        s"""tri$i AS MATERIALIZED (SELECT x.vec_a AS a, x.vec_b AS b, y.vec_b AS c
              FROM te${i - 1} x JOIN te${i - 1} y
                ON x.vec_a = y.vec_a AND x.vec_b < y.vec_b
              JOIN te${i - 1} z ON z.vec_a = x.vec_b AND z.vec_b = y.vec_b),
            sup$i AS MATERIALIZED (SELECT vec_a, vec_b, count(*) AS sup FROM (
              SELECT a AS vec_a, b AS vec_b FROM tri$i
              UNION ALL SELECT a, c FROM tri$i
              UNION ALL SELECT b, c FROM tri$i) GROUP BY 1, 2),
            te$i AS MATERIALIZED (SELECT e.vec_a, e.vec_b FROM te${i - 1} e
              JOIN sup$i s ON e.vec_a = s.vec_a AND e.vec_b = s.vec_b
              WHERE s.sup >= 1),
            trm$i AS (SELECT e.vec_a, e.vec_b, CAST($i AS BIGINT) AS rr
              FROM te${i - 1} e LEFT JOIN te$i a
                ON e.vec_a = a.vec_a AND e.vec_b = a.vec_b
              WHERE a.vec_a IS NULL)"""
      s"""WITH $mutual5Ctes,
         te0 AS MATERIALIZED (SELECT vec_a, vec_b FROM e),
         ${round(1)}, ${round(2)}, ${round(3)},
         ftri AS (SELECT x.vec_a AS a, x.vec_b AS b, y.vec_b AS c
            FROM te3 x JOIN te3 y ON x.vec_a = y.vec_a AND x.vec_b < y.vec_b
            JOIN te3 z ON z.vec_a = x.vec_b AND z.vec_b = y.vec_b),
         fsup AS (SELECT vec_a, vec_b, count(*)::BIGINT AS sup FROM (
            SELECT a AS vec_a, b AS vec_b FROM ftri
            UNION ALL SELECT a, c FROM ftri
            UNION ALL SELECT b, c FROM ftri) GROUP BY 1, 2),
         trem AS (SELECT * FROM trm1 UNION ALL SELECT * FROM trm2
                  UNION ALL SELECT * FROM trm3)
         SELECT e.vec_a, e.vec_b, trem.rr AS removed_round,
                CASE WHEN trem.rr IS NULL THEN coalesce(fsup.sup, 0) END
                  AS final_support
         FROM te0 e
         LEFT JOIN trem ON e.vec_a = trem.vec_a AND e.vec_b = trem.vec_b
         LEFT JOIN fsup ON e.vec_a = fsup.vec_a AND e.vec_b = fsup.vec_b
         ORDER BY e.vec_a, e.vec_b"""
    }),

    // X151: langid eval — shared prediction CTEs, harmonic-identity F1
    QueryDef("q163_langid_eval", CorpusQueries.langIdEval(_, _),
      s"""WITH $langPredCtes,
         j AS (SELECT d.lang, p.lang_pred FROM documents d
               JOIN pred p ON d.doc_id = p.doc_id),
         t AS (SELECT lang AS cls, count(*) AS n_true FROM j GROUP BY 1),
         pr AS (SELECT lang_pred AS cls, count(*) AS n_pred FROM j GROUP BY 1),
         tp AS (SELECT lang AS cls, count(*) AS tp FROM j
                WHERE lang = lang_pred GROUP BY 1),
         m AS (SELECT coalesce(t.cls, pr.cls) AS cls,
                 coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred
               FROM t FULL OUTER JOIN pr ON t.cls = pr.cls)
         SELECT m.cls, m.n_true, m.n_pred, coalesce(tp.tp, 0) AS tp,
                CASE WHEN m.n_pred > 0
                     THEN coalesce(tp.tp, 0)::DOUBLE / m.n_pred::DOUBLE
                END AS precision,
                CASE WHEN m.n_true > 0
                     THEN coalesce(tp.tp, 0)::DOUBLE / m.n_true::DOUBLE
                END AS recall,
                CASE WHEN m.n_true + m.n_pred > 0
                     THEN 2.0 * coalesce(tp.tp, 0)::DOUBLE /
                          (m.n_true + m.n_pred)::DOUBLE
                END AS f1
         FROM m LEFT JOIN tp ON m.cls = tp.cls ORDER BY m.cls"""),

    // X212: l-diversity + integer-exact t-closeness (categorical TVD by
    // rational cross-multiplication) over the complete nation×segment
    // grid — missing segments contribute |0 − c_alls·n_g|
    QueryDef("q219_privacy_census", CorpusQueries.privacyCensus(_, _),
      """WITH cell AS (SELECT c_nationkey AS nation, c_mktsegment AS seg,
                count(*)::BIGINT AS cg
              FROM customer GROUP BY 1, 2),
         segtot AS (SELECT seg, sum(cg)::BIGINT AS call FROM cell GROUP BY 1),
         nall AS (SELECT sum(call)::BIGINT AS n_all FROM segtot),
         grid AS (SELECT n.nation, s.seg, s.call,
                coalesce(c.cg, 0)::BIGINT AS cg
              FROM (SELECT DISTINCT nation FROM cell) n
              CROSS JOIN segtot s
              LEFT JOIN cell c ON c.nation = n.nation AND c.seg = s.seg),
         g2 AS (SELECT nation, seg, call, cg,
                sum(cg) OVER (PARTITION BY nation) AS ng,
                (SELECT n_all FROM nall) AS n_all
              FROM grid),
         agg AS (SELECT nation, max(ng)::BIGINT AS n,
                sum(CASE WHEN cg > 0 THEN 1 ELSE 0 END)::BIGINT AS l_distinct,
                sum(abs(cg * n_all - call * ng))::BIGINT AS num,
                max(n_all)::BIGINT AS n_all
              FROM g2 GROUP BY 1)
         SELECT nation, n, l_distinct,
                (num * 1000000 // (2 * n * n_all))::BIGINT AS tvd_ppm,
                l_distinct >= 3 AS l_ok,
                (num * 1000000 // (2 * n * n_all)) <= 200000 AS t_ok
         FROM agg ORDER BY nation"""),

    // X152: k-anonymity equivalence classes over (segment, nation)
    QueryDef("q164_k_anonymity", CorpusQueries.kAnonymity(_, _),
      """SELECT c_mktsegment AS segment, c_nationkey AS nation,
                count(*) AS n, count(*) >= 5 AS k_anon_ok
         FROM customer GROUP BY 1, 2 ORDER BY segment, nation"""),

    // X153: relational data-contract audit — one verdict row per rule
    QueryDef("q165_data_contract", CorpusQueries.dataContract(_, _),
      """SELECT rule, n_violations, n_violations = 0 AS ok FROM (
         SELECT 'customer_null_segment' AS rule,
                (SELECT count(*) FROM customer WHERE c_mktsegment IS NULL)
                  AS n_violations
         UNION ALL
         SELECT 'fk_orders_customer_orphans',
                (SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
         UNION ALL
         SELECT 'orders_nonpositive_total',
                (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
         UNION ALL
         SELECT 'orders_null_custkey',
                (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
         UNION ALL
         SELECT 'orders_status_domain',
                (SELECT count(*) FROM orders
                 WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
         ) ORDER BY rule"""),

    // X154: CDC net-effect compaction — first/last ops via asc/desc
    // row_number (the Spark side's min_by/max_by over (ts, seq))
    QueryDef("q166_cdc_compact", CorpusQueries.cdcCompact(_, _),
      """WITH l AS (SELECT user_id,
                CASE event_type WHEN 'signup' THEN 'I'
                                WHEN 'error' THEN 'D' ELSE 'U' END AS op,
                ts, event_id, value
              FROM events),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn_d
               FROM l),
         f AS (SELECT user_id,
                 max(CASE WHEN rn_a = 1 THEN op END) AS first_op,
                 max(CASE WHEN rn_d = 1 THEN op END) AS last_op,
                 max(CASE WHEN rn_d = 1 THEN value END) AS last_value,
                 count(*) AS n_changes
               FROM r GROUP BY 1),
         o AS (SELECT user_id,
                 CASE WHEN last_op = 'D' THEN
                        (CASE WHEN first_op = 'I' THEN 'absent' ELSE 'D' END)
                      WHEN first_op = 'I' THEN 'I' ELSE 'U' END AS net_op,
                 CASE WHEN last_op = 'D' THEN NULL ELSE last_value END
                   AS last_value,
                 n_changes
               FROM f)
         SELECT user_id, net_op, last_value, n_changes FROM o
         WHERE net_op <> 'absent' ORDER BY user_id"""),

    // X155: per-label centroid drift — X106 fixed-point means per
    // (label, half, dim), list-assembled in dim order, shared cosine
    QueryDef("q167_centroid_drift", CorpusQueries.centroidDrift(_, _), {
      val h = md5h56("vec_id::VARCHAR")
      s"""WITH cells AS (SELECT label, ($h) % 2 AS half, vec_id,
                t.i - 1 AS dim,
                CAST(floor(embedding[t.i]::DOUBLE * 1000000000.0) AS BIGINT) AS s
              FROM embeddings, range(1, 65) t(i)),
         m AS (SELECT label, half, dim,
                 CAST(sum(s) AS BIGINT) AS ss,
                 count(DISTINCT vec_id) AS n
               FROM cells GROUP BY 1, 2, 3),
         c AS (SELECT label, half, min(n) AS n,
                 list((ss::DOUBLE / 1000000000.0) / n::DOUBLE ORDER BY dim)
                   AS cv
               FROM m GROUP BY 1, 2)
         SELECT a.label, a.n AS n_a, b.n AS n_b,
                ${cosine("a.cv", "b.cv")} AS centroid_cos
         FROM c a JOIN c b ON a.label = b.label
         WHERE a.half = 0 AND b.half = 1 ORDER BY a.label"""
    }),

    // X156: bigram-type growth at hash-ordered 25/50/100% prefixes —
    // one (source, bigram) agg with a min-prefix-level fold
    QueryDef("q168_vocab_growth", CorpusQueries.vocabGrowth(_, _), {
      val h = md5h56("doc_id::VARCHAR")
      s"""WITH d AS (SELECT doc_id, source, text, $h AS h FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY h, doc_id) AS rn FROM d),
         n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         lvl AS (SELECT r.doc_id, r.source, r.text,
                   CASE WHEN rn <= (n_docs + 3) // 4 THEN 1
                        WHEN rn <= (n_docs + 1) // 2 THEN 2
                        ELSE 3 END AS lv
                 FROM r JOIN n USING (source)),
         w AS (SELECT source, lv, string_split(text, ' ') AS w FROM lvl
               WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT source, lv,
                  unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
                    i -> w[i + 1] || ' ' || w[i + 2])) AS bg
                FROM w),
         m AS (SELECT source, bg, min(lv) AS minl FROM bg GROUP BY 1, 2)
         SELECT m.source, n.n_docs,
                count(*) FILTER (minl = 1) AS types_25,
                count(*) FILTER (minl <= 2) AS types_50,
                count(*) AS types_100
         FROM m JOIN n ON m.source = n.source
         GROUP BY 1, 2 ORDER BY m.source"""
    }),

    // X158: span-corruption stats — same per-position hash mask, same
    // gaps-and-islands span fold, exact-integer report
    QueryDef("q170_span_corruption", CorpusQueries.spanCorruption(_, _), {
      val h = md5h56("(doc_id::VARCHAR || ':' || pos::VARCHAR)")
      s"""WITH t AS (SELECT doc_id,
                unnest(range(0, len(string_split(text, ' ')))) AS pos
              FROM documents),
         m AS (SELECT doc_id, pos, ($h) % 100 < 15 AS msk FROM t),
         s AS (SELECT doc_id,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS isl
               FROM m WHERE msk),
         sp AS (SELECT doc_id, count(*) AS n_masked,
                  count(DISTINCT isl) AS n_spans
                FROM s GROUP BY 1),
         nt AS (SELECT doc_id, count(*) AS n_tok FROM m GROUP BY 1)
         SELECT nt.doc_id, nt.n_tok,
                coalesce(sp.n_masked, 0) AS n_masked,
                coalesce(sp.n_spans, 0) AS n_spans,
                coalesce(sp.n_masked, 0) * 100 // nt.n_tok AS mask_rate_pct,
                CASE WHEN sp.n_spans > 0
                     THEN sp.n_masked * 1000 // sp.n_spans ELSE 0 END
                  AS span_len_milli
         FROM nt LEFT JOIN sp ON nt.doc_id = sp.doc_id
         ORDER BY nt.doc_id"""
    }),

    // X159: trending movers — two X124 shift-fold scores (half-life 2
    // vs 14), deterministic ranks, integer delta
    QueryDef("q171_trending_movers", CorpusQueries.trendingMovers(_, _), {
      def sc(hl: Int, out: String) =
        s"""hb$out AS (SELECT k, (maxd - d) // $hl AS hl, sum(c)::BIGINT AS cnt
              FROM pd, st GROUP BY 1, 2),
            sc$out AS (SELECT k,
                list_sum(list(cnt::DOUBLE / (1::BIGINT << hl)::DOUBLE
                    ORDER BY hl) FILTER (WHERE hl <= 52)) AS s
              FROM hb$out GROUP BY k),
            r$out AS (SELECT k,
                row_number() OVER (ORDER BY s DESC, k) AS r FROM sc$out)"""
      s"""WITH pd AS (SELECT user_id AS k,
                epoch_us(ts) // 86400000000 AS d, count(*) AS c
              FROM events GROUP BY 1, 2),
         st AS (SELECT max(d) AS maxd FROM pd),
         ${sc(2, "f")},
         ${sc(14, "s")}
         SELECT rf.k AS user_id, rf.r AS rank_fast, rs.r AS rank_slow,
                rs.r - rf.r AS rank_delta
         FROM rf JOIN rs ON rf.k = rs.k
         ORDER BY rank_delta DESC, user_id"""
    }),

    // X160: stable incremental vocab ids — existing keep dense-rank
    // ids, new terms extend past max_id
    QueryDef("q172_vocab_ids", CorpusQueries.vocabStableIds(_, _),
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
         ex AS (SELECT DISTINCT term FROM t WHERE doc_id % 2 = 0),
         exi AS (SELECT term, CAST(dense_rank() OVER (ORDER BY term)
                   AS BIGINT) AS id FROM ex),
         nw AS (SELECT DISTINCT term FROM t WHERE doc_id % 2 = 1),
         nwo AS (SELECT term FROM nw WHERE term NOT IN (SELECT term FROM ex)),
         nwi AS (SELECT term, CAST(dense_rank() OVER (ORDER BY term)
                   AS BIGINT) AS rk FROM nwo),
         mx AS (SELECT max(id) AS mx FROM exi)
         SELECT term, id, FALSE AS is_new FROM exi
         UNION ALL
         SELECT term, mx + rk AS id, TRUE AS is_new FROM nwi, mx
         ORDER BY id"""),

    // X162: hash-sampled AQP audit — deterministic 1% sample, exact
    // integer sums both paths, one double division for the verdict
    QueryDef("q173_sample_aqp", CorpusQueries.sampleAqp(_, _), {
      val h = md5h56("(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR)")
      s"""WITH li AS (SELECT l_returnflag AS flag,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                ($h) % 100 AS h
              FROM lineitem),
         ex AS (SELECT flag, CAST(sum(cents) AS BIGINT) AS exact_cents,
                  count(*) AS n FROM li GROUP BY 1),
         sp AS (SELECT flag, CAST(sum(cents) AS BIGINT) AS samp_cents,
                  count(*) AS n_samp FROM li WHERE h = 0 GROUP BY 1)
         SELECT ex.flag, ex.n, sp.n_samp, ex.exact_cents,
                sp.samp_cents * 100 AS est_cents,
                abs(CAST(sp.samp_cents * 100 - ex.exact_cents AS DOUBLE)) /
                  CAST(ex.exact_cents AS DOUBLE) <= 0.15 AS est_ok
         FROM ex JOIN sp ON ex.flag = sp.flag ORDER BY ex.flag"""
    }),

    // X163: ALS half-step — ordered list_sum folds mirror Spark's
    // sorted aggregate folds; all constants binary-exact (powers of 2)
    QueryDef("q174_als_step", CorpusQueries.alsHalfStep(_, _), {
      val h = md5h56("item")
      s"""WITH r AS (SELECT user_id, event_type AS item,
                count(*)::DOUBLE AS v
              FROM events GROUP BY 1, 2),
         x AS (SELECT user_id, item, v,
                 ((($h) % 7) + 1)::DOUBLE / 8.0::DOUBLE AS x1,
                 ((($h) % 11) + 1)::DOUBLE / 16.0::DOUBLE AS x2
               FROM r),
         eq AS (SELECT user_id,
                 list_sum(list(x1 * x1 ORDER BY item)) AS s11,
                 list_sum(list(x1 * x2 ORDER BY item)) AS s12,
                 list_sum(list(x2 * x2 ORDER BY item)) AS s22,
                 list_sum(list(v * x1 ORDER BY item)) AS b1,
                 list_sum(list(v * x2 ORDER BY item)) AS b2
               FROM x GROUP BY 1)
         SELECT user_id,
                ((s22 + 0.125::DOUBLE) * b1 - s12 * b2) /
                  ((s11 + 0.125::DOUBLE) * (s22 + 0.125::DOUBLE) - s12 * s12)
                  AS f1,
                ((s11 + 0.125::DOUBLE) * b2 - s12 * b1) /
                  ((s11 + 0.125::DOUBLE) * (s22 + 0.125::DOUBLE) - s12 * s12)
                  AS f2
         FROM eq ORDER BY user_id"""
    }),

    // X164: first/last-touch attribution — conditional IGNORE-NULLS
    // window edges in (ts, event_id) order, 'direct' fallback
    QueryDef("q175_attribution", CorpusQueries.attribution(_, _),
      """WITH t AS (SELECT user_id, ts, event_id, event_type,
                 coalesce(first_value(CASE WHEN event_type <> 'purchase'
                     THEN event_type END IGNORE NULLS) OVER w, 'direct')
                   AS first_touch,
                 coalesce(last_value(CASE WHEN event_type <> 'purchase'
                     THEN event_type END IGNORE NULLS) OVER w, 'direct')
                   AS last_touch
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         c AS (SELECT first_touch, last_touch FROM t
               WHERE event_type = 'purchase'),
         f AS (SELECT first_touch AS touch, count(*) AS n_first_touch
               FROM c GROUP BY 1),
         l AS (SELECT last_touch AS touch, count(*) AS n_last_touch
               FROM c GROUP BY 1)
         SELECT coalesce(f.touch, l.touch) AS touch,
                coalesce(n_first_touch, 0) AS n_first_touch,
                coalesce(n_last_touch, 0) AS n_last_touch
         FROM f FULL OUTER JOIN l ON f.touch = l.touch
         ORDER BY touch"""),

    // X165: ALS alternation — user factors (the q174 CTE chain), then
    // the symmetric item-side solve with folds ordered by user
    QueryDef("q176_als_alternation", CorpusQueries.alsAlternation(_, _), {
      val h = md5h56("item")
      s"""WITH r AS (SELECT user_id, event_type AS item,
                count(*)::DOUBLE AS v
              FROM events GROUP BY 1, 2),
         x AS (SELECT user_id, item, v,
                 ((($h) % 7) + 1)::DOUBLE / 8.0::DOUBLE AS x1,
                 ((($h) % 11) + 1)::DOUBLE / 16.0::DOUBLE AS x2
               FROM r),
         eq AS (SELECT user_id,
                 list_sum(list(x1 * x1 ORDER BY item)) AS s11,
                 list_sum(list(x1 * x2 ORDER BY item)) AS s12,
                 list_sum(list(x2 * x2 ORDER BY item)) AS s22,
                 list_sum(list(v * x1 ORDER BY item)) AS b1,
                 list_sum(list(v * x2 ORDER BY item)) AS b2
               FROM x GROUP BY 1),
         uf AS (SELECT user_id,
                 ((s22 + 0.125::DOUBLE) * b1 - s12 * b2) /
                   ((s11 + 0.125::DOUBLE) * (s22 + 0.125::DOUBLE) - s12 * s12)
                   AS f1,
                 ((s11 + 0.125::DOUBLE) * b2 - s12 * b1) /
                   ((s11 + 0.125::DOUBLE) * (s22 + 0.125::DOUBLE) - s12 * s12)
                   AS f2
               FROM eq),
         j AS (SELECT r.item, r.user_id, r.v, uf.f1, uf.f2
               FROM r JOIN uf ON r.user_id = uf.user_id),
         ie AS (SELECT item,
                 list_sum(list(f1 * f1 ORDER BY user_id)) AS s11,
                 list_sum(list(f1 * f2 ORDER BY user_id)) AS s12,
                 list_sum(list(f2 * f2 ORDER BY user_id)) AS s22,
                 list_sum(list(v * f1 ORDER BY user_id)) AS b1,
                 list_sum(list(v * f2 ORDER BY user_id)) AS b2
               FROM j GROUP BY 1)
         SELECT item,
                ((s22 + 0.125::DOUBLE) * b1 - s12 * b2) /
                  ((s11 + 0.125::DOUBLE) * (s22 + 0.125::DOUBLE) - s12 * s12)
                  AS g1,
                ((s11 + 0.125::DOUBLE) * b2 - s12 * b1) /
                  ((s11 + 0.125::DOUBLE) * (s22 + 0.125::DOUBLE) - s12 * s12)
                  AS g2
         FROM ie ORDER BY item"""
    }),

    // X166: RANGE-frame rolling hour — integer-seconds order column,
    // [−3600, −1] strict-trailing bound, exact long frame arithmetic
    QueryDef("q177_rolling_range", CorpusQueries.rollingRange(_, _),
      """WITH e AS (SELECT user_id, event_id,
                epoch_us(ts) // 1000000 AS sec,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM events)
         SELECT user_id, event_id,
                count(*) OVER w AS n_prior_1h,
                coalesce(CAST(sum(cents) OVER w AS BIGINT), 0) AS cents_prior_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY sec
                      RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
         ORDER BY user_id, event_id"""),

    // X167: nested-record export — canonical ln:qty:cents|... encoding
    // in line-number order
    QueryDef("q178_nest_export", CorpusQueries.nestExport(_, _),
      """WITH l AS (SELECT l_orderkey, l_linenumber,
                CAST(round(l_quantity) AS BIGINT) AS qty,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
              FROM lineitem),
         n AS (SELECT l_orderkey, count(*) AS n_lines,
                 string_agg(concat(l_linenumber::VARCHAR, ':',
                     qty::VARCHAR, ':', cents::VARCHAR),
                   '|' ORDER BY l_linenumber, qty, cents) AS lines_doc,
                 CAST(sum(cents) AS BIGINT) AS total_cents
               FROM l GROUP BY 1)
         SELECT o.o_orderkey, o.o_custkey, n.n_lines, n.total_cents,
                n.lines_doc
         FROM orders o JOIN n ON o.o_orderkey = n.l_orderkey
         ORDER BY o.o_orderkey"""),

    // X168: top-5 + '(other)' rollup — exact heads, tail collapsed
    QueryDef("q179_topk_other", CorpusQueries.topkOther(_, _),
      """WITH c AS (SELECT unnest(string_split(text, ' ')) AS token
                    FROM documents),
         cnt AS (SELECT token, count(*) AS n FROM c GROUP BY 1),
         top AS (SELECT token, n FROM cnt ORDER BY n DESC, token LIMIT 5)
         SELECT token, n, FALSE AS is_other FROM top
         UNION ALL
         SELECT '(other)', CAST(sum(n) AS BIGINT), TRUE FROM cnt
         WHERE token NOT IN (SELECT token FROM top)
         ORDER BY n DESC, token"""),

    // X171: EXACT duplicate-substring excision — stride-1 8-gram
    // coverage union with keep-first retention (rk 1 per fingerprint
    // survives); mirrors the q102 skeleton but with per-occurrence
    // keeper ranking instead of all-occurrence flagging
    QueryDef("q181_substring_dedup", CorpusQueries.substringDedupExact(_, _),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (SELECT doc_id, u.start AS start, u.fp AS fp FROM (
                 SELECT doc_id, unnest(list_transform(range(0, len(w) - 7),
                   s -> struct_pack(start := s,
                     fp := md5(array_to_string(w[s+1:s+8], ' '))))) AS u
                 FROM b WHERE len(w) >= 8)),
         r AS (SELECT doc_id, start,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rk,
                 count(*) OVER (PARTITION BY fp) AS n
               FROM g),
         f AS (SELECT doc_id, start FROM r WHERE n >= 2 AND rk >= 2),
         il AS (SELECT doc_id, start,
                  CASE WHEN start > coalesce(lag(start) OVER (PARTITION BY doc_id
                                                              ORDER BY start) + 8, -1)
                       THEN 1 ELSE 0 END AS ni
                FROM f),
         ag AS (SELECT doc_id, list_sort(list(start)) AS starts,
                  count(*) AS ng, sum(ni) AS ns FROM il GROUP BY 1),
         fin AS (SELECT b.doc_id, len(b.w)::BIGINT AS n_tok,
                   coalesce(ng, 0)::BIGINT AS n_dup_grams,
                   coalesce(ns, 0)::BIGINT AS n_spans,
                   list_filter(b.w, (t, i) ->
                     len(list_filter(coalesce(starts, CAST([] AS BIGINT[])),
                         s -> i - 1 >= s AND i - 1 < s + 8)) = 0) AS cw
                 FROM b LEFT JOIN ag USING (doc_id))
         SELECT doc_id, n_tok, n_dup_grams, n_spans,
                (n_tok - len(cw))::BIGINT AS n_removed,
                md5(coalesce(array_to_string(cw, ' '), '')) AS clean_fp
         FROM fin ORDER BY doc_id"""),

    // X172: one-pass ROLLUP grouping sets, sentinel-coalesced levels
    QueryDef("q182_rollup", StarQueries.q182Rollup(_, _),
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents,
                count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus"""),

    // X173: declared-domain pivot = 5 conditional counts in one agg
    QueryDef("q183_pivot", StarQueries.q183Pivot(_, _),
      """SELECT user_id % 8 AS segment,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY 1"""),

    // X174: JSON path extraction fused into the scan projection
    QueryDef("q184_json_props", StarQueries.q184JsonProps(_, _),
      """SELECT event_type, count(*) AS n,
                min(json_extract(props, '$.k')::BIGINT) AS k_min,
                max(json_extract(props, '$.k')::BIGINT) AS k_max,
                CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS k_sum
         FROM events
         WHERE json_extract(props, '$.k')::BIGINT IS NOT NULL
         GROUP BY 1 ORDER BY 1"""),

    // X175: ntile / percent_rank / cume_dist over a unique order
    QueryDef("q185_window_suite", StarQueries.q185WindowSuite(_, _),
      """SELECT s_nationkey, s_suppkey,
                CAST(round(s_acctbal * 100) AS BIGINT) AS bal,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume
         FROM supplier
         WINDOW w AS (PARTITION BY s_nationkey
                      ORDER BY CAST(round(s_acctbal * 100) AS BIGINT), s_suppkey)
         ORDER BY s_nationkey, s_suppkey"""),

    // X181: hash-ordered greedy token budget on REAL byte-BPE subword
    // counts (q69's cut driven by the trained tokenizer)
    QueryDef("q191_bpe_budget", CorpusQueries.bpeBudget(_, _),
      s"""WITH $bpeTrainingCtes,
         lut AS (SELECT array_to_string(syms, '') AS hword,
                   len(syms)::BIGINT AS n_sub FROM w5),
         dw AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
                FROM documents),
         pd AS (SELECT doc_id, source, CAST(sum(n_sub) AS BIGINT) AS n_tok,
                  ${md5h56("doc_id::VARCHAR")} AS h
                FROM dw JOIN lut ON hex(word) = hword
                WHERE word <> '' GROUP BY doc_id, source),
         c AS (SELECT doc_id, source, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM pd)
         SELECT source, count(*) AS n_docs_kept,
                CAST(sum(n_tok) AS BIGINT) AS subtok_kept,
                max(cum) AS subtok_cum_at_cut
         FROM c WHERE cum - n_tok < 2048 GROUP BY source ORDER BY source"""),

    // X180: TPC-H Q5-shape 6-table star join, decimal-exact revenue
    QueryDef("q190_star_join", StarQueries.q190StarJoin(_, _),
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1 AS DECIMAL(18,2)) -
                          CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue,
                count(*) AS n_lines
         FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
                        AND c_nationkey = s_nationkey
           JOIN nation   ON c_nationkey = n_nationkey
           JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1 ORDER BY revenue DESC, n_name"""),

    // X176: idf-weighted Jaccard — exact integer weights scale DIV df,
    // all-pairs twin over the shared-shingle join
    QueryDef("q189_weighted_jaccard", CorpusQueries.weightedJaccard(_, _),
      s"""WITH ${shingleCteN(3)},
         shh AS (SELECT doc_id, ${md5h56("shingle")} & ${(1L << 55) - 1} AS h
                 FROM sh),
         dfw AS (SELECT h, count(*) AS df FROM shh GROUP BY 1),
         w AS (SELECT doc_id, h, 1000000 // df AS w
               FROM shh JOIN dfw USING (h)),
         tw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS tw FROM w GROUP BY 1),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(sum(a.w) AS BIGINT) AS cw
               FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                cw::DOUBLE / (ta.tw + tb.tw - cw)::DOUBLE AS wjaccard
         FROM p JOIN tw ta ON doc_a = ta.doc_id
                JOIN tw tb ON doc_b = tb.doc_id
         WHERE cw::DOUBLE / (ta.tw + tb.tw - cw)::DOUBLE >= 0.5
         ORDER BY doc_a, doc_b"""),

    // X177: equi-width histogram, exact integer bucketing
    QueryDef("q186_equiwidth_hist", StarQueries.q186EquiwidthHist(_, _),
      """WITH li AS (SELECT l_returnflag,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                     FROM lineitem),
         st AS (SELECT l_returnflag, min(cents) AS mn, max(cents) AS mx
                FROM li GROUP BY 1)
         SELECT li.l_returnflag,
                ((cents - mn) * 8) // (mx - mn + 1) AS bucket,
                count(*) AS n, min(cents) AS lo, max(cents) AS hi
         FROM li JOIN st USING (l_returnflag)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // X178: unpivot(pivot) round-trip — 0-count combos INCLUDED
    QueryDef("q187_unpivot", StarQueries.q187Unpivot(_, _),
      """WITH seg AS (SELECT DISTINCT user_id % 8 AS segment FROM events),
         ty AS (SELECT unnest(['click','error','purchase','signup','view'])
                  AS event_type),
         c AS (SELECT user_id % 8 AS segment, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
         SELECT seg.segment, ty.event_type, coalesce(c.n, 0) AS n
         FROM seg CROSS JOIN ty
         LEFT JOIN c ON c.segment = seg.segment AND c.event_type = ty.event_type
         ORDER BY 1, 2"""),

    // X179: bool_and / bool_or / count_if aggregate suite
    QueryDef("q188_bool_aggs", StarQueries.q188BoolAggs(_, _),
      """SELECT l_returnflag,
                bool_and(l_quantity > 0) AS all_qty_pos,
                bool_or(l_discount > 0.05) AS any_deep_discount,
                count(*) FILTER (WHERE l_tax = 0) AS n_tax_free,
                count(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
                count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    // X169: byte-level BPE trained on a SECOND corpus (part names, 8
    // rounds) — the generality row for the byte alphabet: merges are
    // UTF-8-byte hex sequences, sym_bytes is each symbol's REAL byte
    // width (len(hex)/2), and the twin replays all 8 rounds (see
    // bpeByteCtes)
    QueryDef("q180_bpe_byte_train", CorpusQueries.bpeByteTrainParts(_, _), {
      val ctes = bpeByteCtes(8,
        "SELECT unnest(string_split(p_name, ' ')) AS word FROM part")
      val mergeUnion = (1 to 8).map { i =>
        s"""SELECT 'merge' AS kind, CAST($i AS BIGINT) AS rnk, l AS left_sym,
                   r AS right_sym, len(l || r) // 2 AS sym_bytes,
                   CAST(n AS BIGINT) AS weight FROM b$i"""
      }.mkString(" UNION ALL ")
      s"""WITH $ctes,
         vs AS (SELECT unnest(syms) AS sym, wc FROM w8),
         vocab AS (SELECT sym, sum(wc) AS f FROM vs GROUP BY 1),
         topv AS (SELECT 'symbol' AS kind,
                    CAST(row_number() OVER (ORDER BY f DESC, sym) AS BIGINT) AS rnk,
                    sym AS left_sym, '' AS right_sym,
                    len(sym) // 2 AS sym_bytes, CAST(f AS BIGINT) AS weight
                  FROM vocab ORDER BY f DESC, sym LIMIT 20)
         SELECT * FROM ($mergeUnion UNION ALL SELECT * FROM topv)
         ORDER BY kind, rnk"""
    }),

    // X184: TPC-H Q21-shape — the oracle is the LITERAL fact self-join
    // with EXISTS/NOT-EXISTS; the engine's single-scan aggregate
    // rewrite must hash-match it (that equality is the rewrite proof)
    QueryDef("q193_waiting_supplier", StarQueries.q193WaitingSupplier(_, _),
      """SELECT s_name, count(*) AS numwait
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
         WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                       WHERE l3.l_orderkey = l1.l_orderkey
                         AND l3.l_suppkey <> l1.l_suppkey
                         AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 20"""),

    // X185: two fact paths (orders revenue, events engagement) joined
    // through the shared customer dim, decimal/cents-exact sums
    QueryDef("q194_two_fact_paths", StarQueries.q194TwoFactPaths(_, _),
      """WITH o AS (SELECT o_custkey, count(*) AS n_orders,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS order_rev
              FROM orders GROUP BY 1),
         e AS (SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS event_cents
              FROM events GROUP BY 1)
         SELECT n_name,
                count(*) AS n_customers,
                CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders,
                CAST(sum(coalesce(order_rev, 0)) AS DOUBLE) AS order_revenue,
                CAST(sum(coalesce(n_events, 0)) AS BIGINT) AS n_events,
                CAST(sum(coalesce(event_cents, 0)) AS DOUBLE) / 100.0
                  AS event_value,
                CAST(count(*) FILTER (n_orders IS NOT NULL
                  AND n_events IS NOT NULL) AS BIGINT) AS n_active_both
         FROM customer
         LEFT JOIN o ON c_custkey = o_custkey
         LEFT JOIN e ON c_custkey = user_id
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),

    // X186: TPC-H Q17-shape — the oracle is the LITERAL correlated
    // scalar subquery; the engine's decorrelated per-part pre-agg join
    // must hash-match it (threshold compare can never flip: quantities
    // are integer-valued doubles, so sum is order-free exact and avg
    // is one identical division in both engines)
    QueryDef("q195_small_qty_revenue", StarQueries.q195SmallQtyRevenue(_, _),
      """SELECT p_brand,
                CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / 7.0 AS avg_yearly,
                count(*) AS n_small_qty_lines
         FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
         WHERE l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY p_brand ORDER BY p_brand"""),

    // X182: audio features through the real WAV codec — the twin never
    // sees a byte: the synthesized triangle wave's exact integer
    // features are closed-form in the per-doc synthesis parameters, so
    // DuckDB replays each sample from generate_series with the same
    // integer division the synthesizer used (peak = max |s_i| since
    // the sign flip squares/abs away; n_bytes = 44-byte header + the
    // 12-byte LIST chunk every third doc carries + 2 bytes/sample)
    QueryDef("q192_audio_features", CorpusQueries.audioFeatures(_, _),
      """WITH p AS (SELECT doc_id,
                100 + doc_id % 157 AS n,
                8000 + (doc_id % 4) * 4000 AS rate,
                500 + (doc_id % 29) * 250 AS amp,
                6 + doc_id % 23 AS period,
                CASE WHEN doc_id % 3 = 0 THEN 12 ELSE 0 END AS extra
              FROM documents),
         s AS (SELECT doc_id,
                 ((CASE WHEN (i % period) < period // 2 THEN i % period
                        ELSE period - (i % period) END) * 2 * amp) // period
                   AS v
               FROM p, unnest(generate_series(0, n - 1)) AS t(i))
         SELECT p.doc_id,
                CAST(44 + extra + 2 * n AS BIGINT) AS n_bytes,
                CAST(rate AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS n_channels,
                CAST(16 AS BIGINT) AS bits_per_sample,
                CAST(n AS BIGINT) AS n_samples,
                CAST(max(v) AS BIGINT) AS peak,
                CAST(sum(v * v) AS BIGINT) AS sum_sq
         FROM p JOIN s USING (doc_id)
         GROUP BY p.doc_id, n, rate, extra
         ORDER BY p.doc_id"""),

    // X187: TPC-H Q2-shape — the oracle is the LITERAL correlated MIN
    // subquery over the derived part-supplier cost relation; the
    // engine's decorrelated per-part min-agg join must hash-match it
    // (cost is a MIN of identical doubles — no summation, equality
    // cannot flip between engines)
    QueryDef("q196_min_cost_supplier", StarQueries.q196MinCostSupplier(_, _),
      """WITH ps AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
              FROM lineitem GROUP BY 1, 2),
         rsupp AS (SELECT s_suppkey, s_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA')
         SELECT p_partkey, p_brand, s_name, cost
         FROM ps
         JOIN rsupp ON l_suppkey = s_suppkey
         JOIN part ON p_partkey = l_partkey
         WHERE p_size = 25
           AND cost = (SELECT min(ps2.cost) FROM ps ps2
                       JOIN rsupp r2 ON ps2.l_suppkey = r2.s_suppkey
                       WHERE ps2.l_partkey = ps.l_partkey)
         ORDER BY p_partkey, s_name"""),

    // X188: TPC-H Q18-shape — the oracle is the LITERAL IN-subquery on
    // the HAVING-filtered aggregate; the engine's aggregate-once rewrite
    // (survivors drive the joins, fact never rejoined for the sum) must
    // hash-match it
    QueryDef("q197_large_qty_orders", StarQueries.q197LargeQtyOrders(_, _),
      """SELECT c_name, c_custkey, o_orderkey,
                CAST(o_orderdate AS DATE) AS o_date,
                o_totalprice, sum(l_quantity) AS total_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY 1 HAVING sum(l_quantity) > 200)
         GROUP BY 1, 2, 3, 4, 5
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // X189: TPC-H Q22-shape — LITERAL scalar-AVG subquery + NOT EXISTS;
    // threshold on exact cents (one identical division) so a boundary
    // customer can never flip between engines
    QueryDef("q198_dormant_customers", StarQueries.q198DormantCustomers(_, _),
      """SELECT n_name AS cntry, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) >
               (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                       / count(*)
                FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= DATE '1999-01-01')
         GROUP BY 1 ORDER BY 1"""),

    // X190: TPC-H Q11-shape — LITERAL HAVING-with-scalar-subquery (two
    // logical fact reads); the engine derives the threshold from the
    // per-part agg itself. Exact-cents sums make the 1.25×mean
    // threshold one identical division + product in both engines
    QueryDef("q199_value_share", StarQueries.q199ValueShare(_, _),
      """SELECT l_partkey,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS value_cents
         FROM lineitem GROUP BY 1
         HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) >
                (SELECT 1.25 * (CAST(sum(v) AS DOUBLE) / count(*))
                 FROM (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS v
                       FROM lineitem GROUP BY l_partkey))
         ORDER BY value_cents DESC, l_partkey LIMIT 100"""),

    // X191: TPC-H Q15-shape — LITERAL max-of-view scalar subquery;
    // DECIMAL(18,2) revenue (the q01 rule) makes max/equality exact so
    // the tie set is engine-stable
    QueryDef("q200_top_revenue_supplier", StarQueries.q200TopRevenueSupplier(_, _),
      """WITH rev AS (SELECT l_suppkey,
                sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                  AS total_rev
              FROM lineitem
              WHERE l_shipdate >= DATE '1996-01-01'
                AND l_shipdate < DATE '1996-04-01'
              GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s_suppkey"""),

    // X192: TPC-H Q20-shape — LITERAL nested semi chain whose correlated
    // subquery re-reads the fact per (part, supplier); the engine folds
    // both sums into ONE conditional agg over a single fact scan.
    // Empty-1996 pairs drop in both engines (NULL comparison ⟂ false)
    QueryDef("q201_excess_stock", StarQueries.q201ExcessStock(_, _),
      """SELECT s_suppkey, s_name FROM supplier
         WHERE s_suppkey IN (
           SELECT ps.l_suppkey
           FROM (SELECT l_partkey, l_suppkey, sum(l_quantity) AS avail
                 FROM lineitem GROUP BY 1, 2) ps
           WHERE ps.l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'large%')
             AND ps.avail > (SELECT 8 * sum(l2.l_quantity) FROM lineitem l2
                             WHERE l2.l_partkey = ps.l_partkey
                               AND l2.l_suppkey = ps.l_suppkey
                               AND l2.l_shipdate >= DATE '1996-01-01'
                               AND l2.l_shipdate < DATE '1997-01-01'))
         ORDER BY s_suppkey"""),

    // X193: CUBE multi-grain aggregate — GROUPING() bitmask (first
    // column most significant, the Postgres convention both engines
    // share) disambiguates lattice NULLs from data NULLs; exact cents
    QueryDef("q202_cube_aggs", StarQueries.q202CubeAggs(_, _),
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
                l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag, l_linestatus"""),

    // X194: TPC-H Q13-shape — the LITERAL left-join double aggregation;
    // the zero-order bucket is the point (an inner join would drop it),
    // and the engine's aggregate-before-join rewrite must reproduce it
    // through the zero-coalesced left join of counts
    QueryDef("q203_order_count_hist", StarQueries.q203OrderCountHist(_, _),
      """SELECT c_count, count(*) AS n_customers FROM (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
           GROUP BY 1)
         GROUP BY 1 ORDER BY n_customers DESC, c_count DESC"""),

    // X195: TPC-H Q7-shape — the LITERAL disjunctive two-nation pair
    // predicate; the engine plans IN-filtered broadcast dims + a
    // post-join inequality filter (never a cartesian), which must
    // hash-match this OR form
    QueryDef("q204_volume_shipping", StarQueries.q204VolumeShipping(_, _),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE) AS revenue,
                count(*) AS n_lines
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
            OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // X196: image perceptual hashes — the q37/q192 deterministic-twin
    // convention for the IMAGE codec: the engine round-trips a real PNG
    // (encode + raster decode, lossless), this twin replays the pixel
    // grid, the 8x8 block means (floor division), and both 56-bit
    // hashes from the synthesis parameters via generate_series —
    // integer arithmetic end-to-end, never a byte of PNG
    QueryDef("q205_image_phash", CorpusQueries.imagePHash(_, _),
      s"""WITH $imagePHashCtes
         SELECT doc_id, 32::BIGINT AS width, 32::BIGINT AS height,
                ahash, dhash
         FROM ph ORDER BY doc_id"""),

    // X197: image near-dup — the literal all-pairs hamming join over
    // the replayed dHashes; the engine's pigeonhole banding
    // (recall 1 by construction) must hash-match it exactly
    QueryDef("q206_image_neardup", CorpusQueries.imageNearDup(_, _),
      s"""WITH $imagePHashCtes
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.dhash, b.dhash))::BIGINT AS hamming
         FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         ORDER BY doc_a, doc_b"""),

    // X198: the NOT-IN-with-NULL trap, LITERAL three-valued-logic form —
    // the first variant's subquery contains NULLs, so NOT IN is never
    // TRUE and its count is 0; the engine's broadcast-null-guard +
    // LeftAnti rewrite must reproduce all three variants
    QueryDef("q207_notin_null_census", StarQueries.q207NotInNullCensus(_, _),
      """WITH sub AS (SELECT CASE WHEN o_orderstatus = 'F' THEN o_custkey END AS k
                      FROM orders),
         t AS (SELECT 'not_in_with_nulls' AS variant, count(*) AS n_rows,
                      coalesce(sum(c_custkey), 0) AS chk
               FROM customer WHERE c_custkey NOT IN (SELECT k FROM sub)),
         g AS (SELECT 'not_in_null_guarded', count(*), coalesce(sum(c_custkey), 0)
               FROM customer
               WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL)),
         p AS (SELECT 'in_with_nulls', count(*), coalesce(sum(c_custkey), 0)
               FROM customer WHERE c_custkey IN (SELECT k FROM sub))
         SELECT variant, n_rows::BIGINT AS n_rows, chk::BIGINT AS chk
         FROM (SELECT * FROM t UNION ALL SELECT * FROM g UNION ALL SELECT * FROM p)
         ORDER BY variant"""),

    // X199: null-safe equality join (IS NOT DISTINCT FROM) vs the
    // null-dropping plain join — divergence pinned row-for-row (the
    // NULL-key group exists only in the nullsafe variant); both sides
    // pre-aggregated so the null groups multiply as counts
    QueryDef("q208_nullsafe_join", StarQueries.q208NullSafeJoin(_, _),
      """WITH a AS (SELECT CASE WHEN o_custkey % 100 <> 13 THEN o_custkey % 100 END AS k,
                           count(*) AS na
                    FROM orders GROUP BY 1),
         b AS (SELECT CASE WHEN c_custkey % 100 <> 13 THEN c_custkey % 100 END AS k,
                      count(*) AS nb
               FROM customer GROUP BY 1),
         u AS (SELECT 'nullsafe' AS variant, a.k AS key, na * nb AS n_pairs
               FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
               UNION ALL
               SELECT 'plain', a.k, na * nb FROM a JOIN b ON a.k = b.k)
         SELECT variant, key, n_pairs::BIGINT AS n_pairs
         FROM u ORDER BY variant, key NULLS FIRST"""),

    // X200 (round 10, REAL): frame extraction — 1 container blob → N
    // DECODED PNG frames, each reduced to its perceptual hashes; the
    // twin replays every frame's grid from (doc_id, frame_no)
    // arithmetic, never a container byte
    QueryDef("q209_frame_sample", CorpusQueries.frameSample(_, _),
      s"""WITH $framePHashCtes
         SELECT doc_id, frame_no::BIGINT AS frame_no,
                32::BIGINT AS width, 32::BIGINT AS height, ahash, dhash
         FROM fph ORDER BY doc_id, frame_no"""),

    // X202: TPC-H Q16-shape — the LITERAL NOT IN + count(DISTINCT)
    // form (null-free subquery: the plain-anti-join half of the
    // NOT-IN census; q207 pins the null half)
    QueryDef("q211_supplier_count_by_part", StarQueries.q211SupplierCountByPart(_, _),
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 21, 30)
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
         GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_size"""),

    // X203: TPC-H Q19-shape — the LITERAL OR of per-brand
    // (size band × quantity band) conjunctions; the engine's
    // union-pushed broadcast dim + post-join disjunction filter must
    // hash-match it
    QueryDef("q212_banded_revenue", StarQueries.q212BandedRevenue(_, _),
      """SELECT p_brand,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE) AS revenue,
                count(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 20
                AND l_quantity BETWEEN 10 AND 25)
            OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 30
                AND l_quantity BETWEEN 20 AND 35)
         GROUP BY 1 ORDER BY 1"""),

    // X201 (round 10, REAL): raster downscale — decode, 2× integer
    // block-mean decimation, PNG re-encode, re-decode, perceptual
    // hashes of the 16×16 result; the twin replays both floor stages
    QueryDef("q210_blob_resize", CorpusQueries.blobResize(_, _),
      s"""WITH $resizePHashCtes
         SELECT doc_id, 16::BIGINT AS width, 16::BIGINT AS height,
                ahash, dhash
         FROM rph ORDER BY doc_id"""),

    // X205: the PROBE-side half of the NOT-IN NULL census (q207 pins
    // the subquery side): a nullable probe key under NOT IN silently
    // drops its NULL rows (NULL NOT IN nonempty = NULL), while the
    // anti-join/NOT EXISTS form KEEPS them — the literal three-valued
    // forms, one labeled count+checksum row each
    QueryDef("q213_notin_probe_null", StarQueries.q213NotInProbeNull(_, _),
      """WITH probe AS (SELECT c_custkey,
             CASE WHEN c_custkey % 97 <> 3 THEN c_custkey END AS pk
           FROM customer),
         sub AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
         t AS (SELECT 'not_in_drops_probe_nulls' AS variant,
                      count(*) AS n_rows, coalesce(sum(c_custkey), 0) AS chk
               FROM probe WHERE pk NOT IN (SELECT k FROM sub)),
         a AS (SELECT 'anti_join_keeps_probe_nulls', count(*),
                      coalesce(sum(c_custkey), 0)
               FROM probe
               WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = probe.pk))
         SELECT variant, n_rows::BIGINT AS n_rows, chk::BIGINT AS chk
         FROM (SELECT * FROM t UNION ALL SELECT * FROM a)
         ORDER BY variant"""),

    // X206: audio near-dup — the literal all-pairs hamming join over
    // the replayed acoustic fingerprints; the engine's pigeonhole
    // banding over the decoded WAV stream must hash-match it
    QueryDef("q215_audio_neardup", CorpusQueries.audioNearDup(_, _),
      s"""WITH $audioFpCtes
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
         FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY doc_a, doc_b"""),

    // X204: fused two-hash image near-dup — the literal all-pairs OR
    // join over both replayed hashes; the engine's double banding pass
    // (recall 1 per hash by pigeonhole) must hash-match it
    QueryDef("q214_image_neardup_fused", CorpusQueries.imageNearDupFused(_, _),
      s"""WITH $imagePHashCtes
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.ahash, b.ahash))::BIGINT AS a_hamming,
                bit_count(xor(a.dhash, b.dhash))::BIGINT AS d_hamming
         FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
            OR bit_count(xor(a.dhash, b.dhash)) <= 3
         ORDER BY doc_a, doc_b"""),

    // X207: spatial radius join — the literal all-pairs distance join
    // over LCG-derived integer points (density held constant by scaling
    // the y-extent with the corpus count); the engine's grid-cell
    // banding must hash-match it, exact integer distances included
    QueryDef("q216_spatial_radius", CorpusQueries.spatialRadius(_, _),
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
         pts AS (SELECT doc_id AS id,
             ((doc_id * 1103515245 + 12345) // 65536) % 4096 AS x,
             ((doc_id * 69069 + 1) // 65536) % greatest(n.n, 64) AS y
           FROM documents, n)
         SELECT a.id AS id_a, b.id AS id_b,
                ((a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist_sq
         FROM pts a JOIN pts b ON a.id < b.id
         WHERE (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) <= 64 * 64
         ORDER BY id_a, id_b"""),

    // X214: schema-drift ingest census — epoch membership replayed
    // from the source table by the staging rule (o_orderkey parity =
    // which files predate o_orderpriority); the engine side reads the
    // actual two-epoch files with mergeSchema, so equality here pins
    // "missing column reads as NULL exactly for pre-drift files"
    QueryDef("q220_schema_drift", StarQueries.q220SchemaDrift(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_pre_drift,
                sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS n_post_drift,
                count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                               THEN o_orderpriority END)::BIGINT
                  AS n_priorities,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // X208: first-order Markov transition matrix — lag over the
    // per-user (ts, event_id) order, cell counts, exact-ratio p_ppm
    QueryDef("q217_markov_transitions", CorpusQueries.markovTransitions(_, _),
      """WITH seq AS (SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
           FROM events),
         t AS (SELECT prev AS src, event_type AS dst,
                      count(*)::BIGINT AS n
               FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)
         SELECT src, dst, n,
                (n * 1000000 // sum(n) OVER (PARTITION BY src))::BIGINT AS p_ppm
         FROM t ORDER BY src, dst"""),

    // X217: type-widening schema-drift census — epoch membership
    // replayed by the staging rule (o_orderkey parity); epoch-1 rows
    // were WRITTEN as (o_custkey INT, o_totalprice FLOAT), so the
    // oracle replays the float round-trip with CAST(x AS REAL)::DOUBLE
    // — equality pins that the engine's widened read surfaces the
    // files' actual narrowed values, not re-derived ones. cents are
    // rounded per value then summed as exact BIGINTs (no float
    // summation order in the hash, the q80 rule).
    QueryDef("q221_widened_drift", StarQueries.q221WidenedDrift(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_pre_drift,
                count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                               THEN o_orderpriority END)::BIGINT
                  AS n_priorities,
                sum(o_custkey)::BIGINT AS custkey_sum,
                sum(CAST(round(
                      (CASE WHEN o_orderkey % 2 = 0
                            THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
                            ELSE o_totalprice END) * 100) AS BIGINT))::BIGINT
                  AS cents_sum,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // X218: deliberate big-dim join regime (SortMergeJoin, no
    // broadcast — the plan assert lives in Round12Spec); decimal-exact
    // revenue per the q01 rule
    QueryDef("q222_bigdim_join", StarQueries.q222BigDimJoin(_, _),
      """SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) -
                      CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                  AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1"""),

    // X220: epoch-pruned drift read — the engine reads ONLY the
    // epoch=2 partition (plan-asserted); the oracle replays its
    // membership by the staging parity rule (odd orderkey)
    QueryDef("q223_drift_prune", StarQueries.q223DriftPrune(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders WHERE o_orderkey % 2 = 1
         GROUP BY 1 ORDER BY 1"""),

    // X221: nested-struct drift census — the engine reads the staged
    // two-epoch corpus whose struct gained a field mid-corpus; the
    // oracle replays epoch membership from the FLAT source table by the
    // staging parity rule, so equality pins "a missing NESTED field
    // reads as NULL exactly for pre-drift files". cents are rounded per
    // value then summed as exact BIGINTs (the q221 rule).
    QueryDef("q224_nested_drift", StarQueries.q224NestedDrift(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_pre_drift,
                count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                               THEN o_orderpriority END)::BIGINT
                  AS n_priorities,
                sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
                  AS cents_sum,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // X222: column-DROP drift census — the inverse of q220: the NULLs
    // sit on POST-drift files (odd keys), and the distinct-priority
    // count ranges over the PRE-drop half only
    QueryDef("q225_drop_drift", StarQueries.q225DropDrift(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)::BIGINT
                  AS n_post_drop,
                sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_pre_drop,
                count(DISTINCT CASE WHEN o_orderkey % 2 = 0
                               THEN o_orderpriority END)::BIGINT
                  AS n_priorities,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // X223: deterministically skewed big-dim SMJ — the skew rule
    // (orderkeys not divisible by 4 collapse to hot key 0, whose dim
    // row is the declared '0-HOT' entry) is replayed verbatim; the
    // result is independent of AQE's skew slicing, which is exactly
    // what makes the plan-level skew assert safe to gate
    QueryDef("q226_skewed_bigdim", StarQueries.q226SkewedBigDim(_, _),
      """WITH f AS (SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey
                                ELSE 0 END AS k,
                           l_extendedprice, l_discount FROM lineitem),
            d AS (SELECT o_orderkey AS k, o_orderpriority AS prio
                   FROM orders WHERE o_orderkey % 4 = 0
                  UNION ALL SELECT 0 AS k, '0-HOT' AS prio)
         SELECT prio, count(*)::BIGINT AS n_lines,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
                         (100 - CAST(round(l_discount * 100) AS BIGINT)))
                     AS DOUBLE) / 10000.0 AS revenue
         FROM f JOIN d USING (k)
         GROUP BY 1 ORDER BY 1"""),

    // X224: CSV-face schema drift — the engine reads the staged
    // two-epoch CSV corpus (epoch-1: no o_orderpriority, whole-dollar
    // integral prices a crawler infers as an integer column; epoch-2:
    // decimal prices + the new column) with per-epoch inferred schemas
    // widened to double and unioned by name; the oracle replays epoch
    // membership AND the integral-price round-trip from the flat
    // source table by the parity rule, so equality pins both the
    // addition-NULL and inference-widening semantics
    QueryDef("q227_csv_drift", StarQueries.q227CsvDrift(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_pre_drift,
                count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                               THEN o_orderpriority END)::BIGINT
                  AS n_priorities,
                sum(CAST(round(
                      (CASE WHEN o_orderkey % 2 = 0
                            THEN CAST(CAST(round(o_totalprice) AS BIGINT)
                                      AS DOUBLE)
                            ELSE o_totalprice END) * 100) AS BIGINT))::BIGINT
                  AS cents_sum,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // X224 rename leg (round 15): epoch 2 renamed the price column
    // (total_price) AND widened it integer→double through inference;
    // the engine folds the rename back via the declared map before
    // widening. The oracle replays epoch membership + the integral
    // round-trip from the flat table; n_null_price replays as ZERO
    // nulls — the unification gate a forked (drop+add) read fails
    QueryDef("q228_csv_rename_drift", StarQueries.q228CsvRenameDrift(_, _),
      """SELECT o_orderstatus AS status, count(*)::BIGINT AS n,
                sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_null_price,
                sum(CAST(round(
                      (CASE WHEN o_orderkey % 2 = 0
                            THEN CAST(CAST(round(o_totalprice) AS BIGINT)
                                      AS DOUBLE)
                            ELSE o_totalprice END) * 100) AS BIGINT))::BIGINT
                  AS cents_sum,
                sum(o_orderkey)::BIGINT AS key_sum
         FROM orders GROUP BY 1 ORDER BY 1"""),
  )
}
