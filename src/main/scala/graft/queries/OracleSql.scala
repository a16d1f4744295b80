package graft.queries

/** The DuckDB oracle fragments that two or more gates' oracles share,
  * each written once. A builder takes only the values in which its users
  * differ and returns finished SQL text (margin already stripped), so an
  * oracle interpolates it into its own strip-margin string. An oracle that
  * is a verbatim copy of another refers to that map entry instead.
  */
private[graft] object OracleSql {

  // ---- pixel-law dHash (images and video frames) -------------------------

  /** Closes a `px` CTE of pixels tagged with their 9x8 block (cx, cy) on a
    * `w` x `h` frame with the floor block bounds, then `cells` (the
    * truncating block means) and `ph` (the dHash: bit k = row-major
    * neighbor compare, bit 63 in its two's-complement form). `frames`
    * adds the frame axis `t` to every key.
    */
  def dhash(w: Int, h: Int, frames: Boolean): String = {
    val (t, at, by) = if (frames) ("t, ", " a.t,", ", 2") else ("", "", "")
    val onFrame = if (frames) "b.t = a.t\n   AND " else ""
    s"""  WHERE x.x >= (cx.cx * $w) // 9 AND x.x < ((cx.cx + 1) * $w) // 9
       |    AND y.y >= (cy.cy * $h) // 8 AND y.y < ((cy.cy + 1) * $h) // 8),
       |cells AS (
       |  SELECT doc_id, ${t}cy, cx,
       |    CAST(CAST(SUM(v) AS BIGINT) // COUNT(*) AS BIGINT) AS cell
       |  FROM px GROUP BY 1, 2, 3${if (frames) ", 4" else ""}),
       |ph AS (
       |  SELECT a.doc_id,$at
       |    CAST(SUM(CASE WHEN a.cell > b.cell THEN
       |        CASE WHEN a.cy * 8 + a.cx = 63
       |             THEN CAST(-9223372036854775808 AS HUGEINT)
       |             ELSE CAST(CAST(1 AS BIGINT)
       |               << CAST(a.cy * 8 + a.cx AS INTEGER) AS HUGEINT) END
       |      ELSE 0 END) AS BIGINT) AS phash
       |  FROM cells a JOIN cells b
       |    ON b.doc_id = a.doc_id AND ${onFrame}b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8
       |  GROUP BY 1$by)""".stripMargin
  }

  /** The near-duplicate fixture: `scenes` originals, then `shifted` copies
    * (ids from 100) of the first scenes, offset by `shift` samples/pixels. */
  def shiftedDocs(scenes: Int, shifted: Int, shift: Int): String =
    s"""WITH docs AS (
       |  SELECT d.doc_id AS doc_id, d.doc_id AS scene, 0 AS sh
       |  FROM range($scenes) d(doc_id)
       |  UNION ALL
       |  SELECT d.doc_id + 100, d.doc_id, $shift FROM range($shifted) d(doc_id)),""".stripMargin

  /** The whole image-dedup derivation from the pixel law over `scenes`
    * originals and `shifted` one-pixel-shifted copies: decode (identity
    * on the law, PNG lossless) -> [[dhash]] -> 16-bit band candidates ->
    * Hamming verify. Arithmetic >> plus & 65535 keeps band extraction
    * sign-safe on both engines.
    */
  def imageDedup(scenes: Int, shifted: Int): String =
    s"""WITH docs AS (
       |  SELECT d.doc_id AS doc_id, d.doc_id AS scene, 0 AS sh FROM range($scenes) d(doc_id)
       |  UNION ALL
       |  SELECT d.doc_id + 100, d.doc_id, 1 FROM range($shifted) d(doc_id)),
       |px AS (
       |  SELECT dd.doc_id, cy.cy, cx.cx,
       |    (dd.scene * 31 + ((x.x + dd.sh) % 32) * 7 + y.y * 13) % 256 AS v
       |  FROM docs dd, range(8) cy(cy), range(9) cx(cx),
       |       range(32) x(x), range(32) y(y)
       |${dhash(32, 32, frames = false)},
       |bands AS (
       |  SELECT doc_id, phash, b.b, (phash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
       |  FROM ph, range(4) b(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.phash AS ha, y.phash AS hb
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ha, hb)) <= 8""".stripMargin

  /** The whole video-dedup derivation from the frame law over `scenes`
    * originals and `shifted` copies: decode (identity, DIB raw) ->
    * per-frame [[dhash]] -> 16-bit band candidates at (doc*1024+frame)
    * granularity -> Hamming verify -> video-pair rollup with the >= 2
    * shared-frame floor. Frame pairs inside one video are excluded
    * exactly as the engine excludes them.
    */
  def videoDedup(scenes: Int, shifted: Int): String =
    s"""${shiftedDocs(scenes, shifted, 1)}
       |px AS (
       |  SELECT dd.doc_id, t.t, cy.cy, cx.cx,
       |    (dd.scene * 31 + ((x.x + dd.sh) % 24) * 7 + y.y * 13
       |      + t.t * 17) % 256 AS v
       |  FROM docs dd, range(4) t(t), range(8) cy(cy), range(9) cx(cx),
       |       range(24) x(x), range(16) y(y)
       |${dhash(24, 16, frames = true)},
       |bands AS (
       |  SELECT doc_id, t, phash, b.b,
       |    (phash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
       |  FROM ph, range(4) b(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS da, x.t AS ta, y.doc_id AS db,
       |    y.t AS tb, x.phash AS ha, y.phash AS hb
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v
       |   AND (x.doc_id * 1024 + x.t) < (y.doc_id * 1024 + y.t)),
       |fp AS (
       |  SELECT da, db, bit_count(xor(ha, hb)) AS hamming
       |  FROM cand WHERE bit_count(xor(ha, hb)) <= 8 AND da <> db)
       |SELECT da AS video_a, db AS video_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared,
       |  CAST(MIN(hamming) AS BIGINT) AS min_hamming
       |FROM fp GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin

  /** The 8x8 grid of exact 4x4-block means of the 24 pixel-law images. */
  val imageBlockCells: String =
    """WITH px AS (
      |  SELECT d.doc_id, cy.cy, cx.cx,
      |    (d.doc_id * 31 + x.x * 7 + y.y * 13) % 256 AS v
      |  FROM range(24) d(doc_id), range(8) cy(cy), range(8) cx(cx),
      |       range(32) x(x), range(32) y(y)
      |  WHERE x.x >= cx.cx * 4 AND x.x < cx.cx * 4 + 4
      |    AND y.y >= cy.cy * 4 AND y.y < cy.cy * 4 + 4),
      |cells AS (
      |  SELECT doc_id, cy, cx,
      |    CAST(CAST(SUM(v) AS BIGINT) // 16 AS BIGINT) AS cell
      |  FROM px GROUP BY 1, 2, 3),""".stripMargin

  /** The audio envelope fingerprint over `s` (doc_id, i, v) of `nSamples`
    * samples: 64 exact block energies `w`, then `fp` with bit k set when
    * block k outweighs block k+1 (bits 0..62, sign-safe), as `col`. */
  def audioFingerprint(nSamples: Int, col: String): String =
    s"""w AS (
       |  SELECT doc_id, (i * 64) // $nSamples AS wk, SUM(v * v) AS we
       |  FROM s GROUP BY 1, 2),
       |fp AS (
       |  SELECT a.doc_id,
       |    CAST(SUM(CASE WHEN a.we > b.we
       |      THEN CAST(1 AS BIGINT) << CAST(a.wk AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS $col
       |  FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.wk = a.wk + 1
       |  WHERE a.wk < 63 GROUP BY 1)""".stripMargin

  /** The multimodal fixture's frames: one row per 256-character slice. */
  val documentFrames: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, (greatest(length(text), 1) - 1) // 256)) AS i
      |  FROM documents),""".stripMargin

  // ---- sketches and sampling ---------------------------------------------

  /** The KMV distinct-count estimate per `key` over `src` (key, hv): the
    * 32 smallest md5 hashes, the 32nd as U(k), and (k-1)/U(k) on the
    * first 13 hex chars (52 bits, exact in a double); groups with fewer
    * than 32 hashes report their exact count. */
  def kmvEstimate(key: String, src: String): String =
    s"""r AS (
       |  SELECT $key, hv,
       |    row_number() OVER (PARTITION BY $key ORDER BY hv) AS rn FROM $src),
       |s AS (
       |  SELECT $key, COUNT(*) AS nd,
       |    max(CASE WHEN rn = 32 THEN hv END) AS kth
       |  FROM r GROUP BY 1)
       |SELECT $key,
       |  CAST(LEAST(nd, 32) AS BIGINT) AS nd_capped,
       |  CASE WHEN nd < 32 THEN CAST(nd AS DOUBLE)
       |       ELSE round(CAST(31 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
       |                  / CAST(CAST('0x' || substr(kth, 1, 13) AS BIGINT) AS DOUBLE), 3)
       |  END AS est_distinct
       |FROM s""".stripMargin

  /** The priority-sampling weights `w`: weight n_chars and the exact
    * priority q = w / ((U+1)/2^52), U the first 52 bits of md5(doc_id).
    * `key` is the stratum columns selected before doc_id ("" or "lang, "). */
  def priorityWeights(key: String): String =
    s"""WITH w AS (
       |  SELECT ${key}doc_id, CAST(n_chars AS BIGINT) AS weight,
       |    CAST(n_chars AS DOUBLE) AS wd,
       |    CAST(n_chars AS DOUBLE) /
       |      ((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
       |              AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370496.0)
       |      AS priority
       |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),""".stripMargin

  // ---- text ---------------------------------------------------------------

  /** The BM25 (k1 1.2, b 0.75) stack for the query terms spark, merge and
    * window, ending in `name` (doc_id, score_fp): each term weight floored
    * to 1e-9 fixed point before the per-doc sum. */
  def bm25(name: String): String =
    raw"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (
         |  SELECT COUNT(*) AS nd,
         |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM dl),
         |tf AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
         |  WHERE tok IN ('spark', 'merge', 'window') GROUP BY 1, 2),
         |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT t.doc_id,
         |    ((CAST(s.nd AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
         |     (CAST(f.df AS DOUBLE) + 0.5))
         |      * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) /
         |      (CAST(t.tf AS DOUBLE)
         |        + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(d.dl AS DOUBLE) / s.avgdl)) AS w
         |  FROM tf t
         |  JOIN dl d ON t.doc_id = d.doc_id
         |  JOIN dfq f ON t.tok = f.tok
         |  CROSS JOIN stats s),
         |$name AS (
         |  SELECT doc_id,
         |    CAST(SUM(CAST(floor(w * 1000000000.0) AS BIGINT)) AS BIGINT) AS score_fp
         |  FROM scored GROUP BY 1)""".stripMargin

  /** The exact Jaccard of a banded candidate pair's shingle sets (the body
    * of a CTE over `pairs` and `sh`). */
  val pairJaccard: String =
    """  SELECT p.doc_a, p.doc_b,
      |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
      |      greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1) AS jaccard
      |  FROM pairs p
      |  JOIN sh sa ON sa.doc_id = p.doc_a
      |  JOIN sh sb ON sb.doc_id = p.doc_b)""".stripMargin

  /** The Gopher quality metrics per document (the body of a CTE over
    * `documents`), metric for metric as TextFunctions.gopherMetrics. */
  val gopherMetrics: String =
    raw"""  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '\S+'),
         |        t -> length(t))), 0) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS mean_tok_len,
         |    CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS symbol_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(trim(l), '^[-*•]'))) AS DOUBLE)
         |      / greatest(len(string_split(text, chr(10))), 1) AS bullet_line_ratio,
         |    CAST(len(list_filter(string_split(text, chr(10)),
         |        l -> regexp_matches(trim(l), '\.\.\.$$'))) AS DOUBLE)
         |      / greatest(len(string_split(text, chr(10))), 1) AS ellipsis_line_ratio,
         |    CAST(len(list_filter(regexp_extract_all(text, '\S+'),
         |        t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
         |      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS alpha_word_ratio,
         |    CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
         |        t -> list_contains(['the','a','an','of','and','or','to','in','is','it',
         |                            'for','on','with','as','at','by','from','that','this'], t)))
         |      AS BIGINT) AS n_stopwords
         |  FROM documents)""".stripMargin

  /** The distinct md5 digests of every document's 8-token windows, with
    * the same clamped-slice fallback as graft_shingles (`shrows`), and the
    * benchmark set drawn from docs with id % 10 = 0 (`bench`). */
  val benchGrams: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tk FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(tk) - 7, 1) + 1),
         |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS ds
         |  FROM toks),
         |shrows AS (SELECT doc_id, unnest(ds) AS d FROM sh),
         |bench AS (SELECT DISTINCT d FROM shrows WHERE doc_id % 10 = 0)""".stripMargin

  // ---- vectors ------------------------------------------------------------

  /** The int8 quantization scale `s` per embedding: 127 / max |x| (0 for
    * an all-zero vector). */
  val quantScale: String =
    """s AS (
      |  SELECT vec_id, label, embedding,
      |    CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
      |         THEN 0.0
      |         ELSE 127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
      |    END AS sc
      |  FROM embeddings)""".stripMargin

  /** Every embedding's round-6 cosine to the query vector `qv` of `q`
    * (the tail of a CTE). */
  val queryCosine: String =
    """    round(
      |      list_sum(list_transform(range(1, len(embedding) + 1),
      |        i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |      6) AS cos
      |  FROM embeddings, q)""".stripMargin

  // ---- graphs ---------------------------------------------------------------

  /** The user -> topic graph (topics offset by 10000) of the link-analysis
    * oracles: edges `e` (src, dst) and `nodes`. */
  val userTopicGraph: String =
    """WITH e AS (
      |  SELECT DISTINCT CAST(user_id AS BIGINT) AS src,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) + 10000 AS dst
      |  FROM events
      |  WHERE user_id IS NOT NULL
      |    AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
      |nodes AS (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),""".stripMargin

  /** One integer PageRank round's inflow over `r<rn-1>`: the contribution
    * sum `c<rn>` and the dangling mass `dm<rn>`. */
  def rankInflow(rn: Int): String = {
    val p = rn - 1
    s"""c$rn AS (
       |  SELECT e.dst AS node, CAST(SUM(r.rk // d.deg) AS BIGINT) AS insum
       |  FROM e JOIN r$p r ON e.src = r.node JOIN outdeg d ON e.src = d.src
       |  GROUP BY e.dst),
       |dm$rn AS (
       |  SELECT CAST(COALESCE(SUM(r.rk), 0) AS BIGINT) AS dm
       |  FROM r$p r LEFT JOIN outdeg d ON r.node = d.src WHERE d.src IS NULL),""".stripMargin
  }

  /** The top `k` nodes of the last PageRank round `r<iters>`. */
  def rankTopK(iters: Int, k: Int): String =
    s"""SELECT node, rk AS rank_scaled,
       |  CAST(rk AS DOUBLE) / 1000000000.0 AS "rank"
       |FROM r$iters ORDER BY rk DESC, node LIMIT $k""".stripMargin

  // ---- warehouse ------------------------------------------------------------

  /** Per event type, the count and value sum of the events inside a
    * (user_id, value) box: `where` is the box predicate. */
  def boxScan(where: String): String =
    s"""SELECT event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       |FROM events
       |WHERE $where
       |GROUP BY 1""".stripMargin

  /** The (day, event_type) count and value sum with its grouping flags
    * under `groupBy` (CUBE or ROLLUP); a rolled-up key reads as the
    * sentinel day 1900-01-01 or the type 'ALL'. */
  def groupingSets(groupBy: String): String =
    s"""SELECT CASE WHEN g_day = 1 THEN DATE '1900-01-01' ELSE day END AS day,
       |  CASE WHEN g_type = 1 THEN 'ALL' ELSE event_type END AS event_type,
       |  n, value_sum, g_day, g_type
       |FROM (
       |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, COUNT(*) AS n,
       |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
       |    CAST(GROUPING(CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS g_day,
       |    CAST(GROUPING(event_type) AS BIGINT) AS g_type
       |  FROM events GROUP BY $groupBy(1, 2)) t""".stripMargin

  /** The alerting monitor's per-type event counts `c` in each third of the
    * data's day span (c1, c2, c3): the three monitor batches. */
  val alertWindowCounts: String =
    """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      |r AS (SELECT min(day) AS d0,
      |  date_diff('day', min(day), max(day)) + 1 AS span FROM e),
      |c AS (SELECT event_type,
      |  SUM(CASE WHEN least((date_diff('day', r.d0, day) * 3) // r.span, 2) = 0
      |      THEN 1 ELSE 0 END) AS c1,
      |  SUM(CASE WHEN least((date_diff('day', r.d0, day) * 3) // r.span, 2) = 1
      |      THEN 1 ELSE 0 END) AS c2,
      |  SUM(CASE WHEN least((date_diff('day', r.d0, day) * 3) // r.span, 2) = 2
      |      THEN 1 ELSE 0 END) AS c3
      |  FROM e, r GROUP BY 1)""".stripMargin
}
