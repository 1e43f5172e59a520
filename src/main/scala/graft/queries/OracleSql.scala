package graft.queries

/** DuckDB SQL fragments that several oracle strings share, one copy each.
  *
  * An oracle string splices a fragment into its `WITH` list as
  * `${OracleSql.x}` and goes on with `,` and its own CTEs, so the
  * assembled SQL is the same text it would be written out in full. No
  * fragment line starts with `|`, so an enclosing `stripMargin` leaves a
  * fragment as it is.
  */
private[queries] object OracleSql {

  // Near-duplicate text: word 3-gram shingles, Jaccard pairs and the graphs over them.
  /** `toks`/`u`/`sh`: each document's distinct word 3-gram shingles `s`,
    * every token length-prefixed as in `Dedup.ngramJaccardPairs(n = 3)`.
    */
  val shingles3: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, CAST(len(t[i]) AS VARCHAR) || ':' || t[i] || CAST(len(t[i+1]) AS VARCHAR) || ':' || t[i+1] || CAST(len(t[i+2]) AS VARCHAR) || ':' || t[i+2] AS s FROM u)""".stripMargin

  /** [[shingles3]] plus `cnt`: each document's shingle count `n_sh`. */
  val shingleCounts: String =
    s"""$shingles3,
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id)""".stripMargin

  /** [[shingleCounts]] plus `<pairs>`: the shared-shingle count `common`
    * of every document pair `doc_a < doc_b` that shares one.
    */
  def shinglePairs(pairs: String): String =
    s"""$shingleCounts,
       |$pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** `shinglePairs("prs")` plus `jp`: the pairs at shingle Jaccard >= 0.8,
    * as the integer test `Dedup.ngramJaccardPairs(pct = 80)` applies.
    */
  val jaccardPairs: String =
    s"""${shinglePairs("prs")},
       |jp AS (SELECT doc_a, doc_b FROM prs p
       |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
       |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common))""".stripMargin

  /** [[jaccardPairs]] plus `<edges>`: the pairs as directed edges
    * (`src`, `dst`), both ways.
    */
  def jaccardGraph(edges: String): String =
    s"""$jaccardPairs,
       |$edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
       |  UNION ALL SELECT doc_b, doc_a FROM jp)""".stripMargin

  /** `shinglePairs("prs")` plus `jp`: the Jaccard >= 0.8 pairs as edges
    * (`a`, `b`), `a < b`.
    */
  val jaccardEdges: String =
    s"""${shinglePairs("prs")},
       |jp AS (SELECT doc_a AS a, doc_b AS b FROM prs p
       |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
       |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common))""".stripMargin

  /** [[jaccardEdges]] plus the degree-ordered triangle listing of
    * `Graph.triangleCounts`: degrees `deg`, edges `o` oriented from the
    * lower (degree, id) end, wedges `wg` and triangles `tri` (`u`, `v`, `x`).
    */
  val orientedTriangles: String =
    s"""$jaccardEdges,
       |deg AS (SELECT v, count(*) AS dg FROM
       |  (SELECT a AS v FROM jp UNION ALL SELECT b FROM jp) GROUP BY 1),
       |o AS (SELECT
       |  CASE WHEN (da.dg, jp.a) < (db.dg, jp.b) THEN jp.a ELSE jp.b END AS src,
       |  CASE WHEN (da.dg, jp.a) < (db.dg, jp.b) THEN jp.b ELSE jp.a END AS dst,
       |  CASE WHEN (da.dg, jp.a) < (db.dg, jp.b) THEN db.dg ELSE da.dg END AS dst_dg
       |  FROM jp JOIN deg da ON da.v = jp.a JOIN deg db ON db.v = jp.b),
       |wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS x
       |  FROM o e1 JOIN o e2 ON e1.src = e2.src
       |  AND (e1.dst_dg, e1.dst) < (e2.dst_dg, e2.dst)),
       |tri AS (SELECT u, v, x FROM wg JOIN o e3 ON e3.src = wg.v AND e3.dst = wg.x)""".stripMargin

  /** The whole oracle of `Dedup.containmentPairs(n = 3, pct = 90)`: pairs
    * (`doc_in`, `doc_of`) where at least 90% of `doc_in`'s shingles occur
    * in `doc_of`.
    */
  val containment90: String =
    s"""WITH $shingleCounts,
       |prs AS (
       |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_of, CAST(count(*) AS BIGINT) AS common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_in, doc_of, common, ca.n_sh AS n_sh_in
       |FROM prs p JOIN cnt ca ON ca.doc_id = p.doc_in
       |WHERE common * 100 >= 90 * ca.n_sh""".stripMargin

  /** `toks`/`u`/`sp`/`heavy`/`pruned`/`m`/`runs`/`isla`: the shared 8-token
    * spans of `Dedup.sharedSpans(n = 8, maxDf = 50)` as islands per document
    * pair and diagonal (`run_len` windows starting at `sa` in `doc_a` and
    * `sb` in `doc_b`); spans in more than 50 documents are dropped.
    */
  val sharedSpanRuns: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i FROM toks WHERE len(t) >= 8),
      |sp AS (SELECT doc_id, i, array_to_string(list_transform(t[CAST(i AS INT):CAST(i+7 AS INT)], x -> CAST(len(x) AS VARCHAR) || ':' || x), '') AS s FROM u),
      |heavy AS (SELECT s FROM sp GROUP BY s HAVING count(DISTINCT doc_id) > 50),
      |pruned AS (SELECT * FROM sp WHERE s NOT IN (SELECT s FROM heavy)),
      |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        a.i - 1 AS pa, b.i - 1 AS pb
      |      FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id),
      |runs AS (SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
      |        pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
      |      FROM m),
      |isla AS (SELECT doc_a, doc_b, diag, isl, count(*) AS run_len,
      |        min(pa) AS sa, min(pb) AS sb
      |      FROM runs GROUP BY 1, 2, 3, 4)""".stripMargin

  /** `toks`/`tk`/`kh`/`wmin`/`fps`: each document's winnowing fingerprints
    * `fp` as `Dedup.winnowingFingerprints(k = 4, w = 4)` takes them: 48-bit
    * md5 hashes of the word 4-grams, the minimum of every window of 4.
    */
  val winnowingFingerprints: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tk AS (SELECT doc_id, t, unnest(range(1, len(t) - 2)) AS pos
      |  FROM toks WHERE len(t) >= 7),
      |kh AS (SELECT doc_id, pos, CAST(list_sum(list_transform(range(1, 13),
      |    i -> (strpos('0123456789abcdef',
      |           substr(md5(array_to_string(t[pos:pos+3], ' ')), CAST(i AS INT), 1)) - 1)
      |         * 16.0 ** (12 - i))) AS BIGINT) AS h
      |  FROM tk),
      |wmin AS (SELECT doc_id, pos,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |    count(*) OVER (PARTITION BY doc_id) AS nk
      |  FROM kh),
      |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= nk - 3)""".stripMargin


  // Lexical scoring.
  /** `toks`/`t`/`dl`/`stats`: the non-empty space-split tokens, each
    * document's length `dl`, and the corpus's document count `n` and
    * total length `sdl`.
    */
  val bm25Stats: String =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |t AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
      |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl)""".stripMargin

  /** `idf`: the Okapi BM25 idf and `avgdl` of every term in `tf`, as
    * `QueryUtil.bm25Idf` computes them.
    */
  val bm25Idf: String =
    """idf AS (SELECT tok,
      |    ln((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf,
      |    CAST(sdl AS DOUBLE) / n AS avgdl
      |  FROM (SELECT tok, count(*) AS df FROM tf GROUP BY 1), stats)""".stripMargin

  /** `QueryUtil.bm25QueryScores` as CTEs ending in `lex` (`query_id`,
    * `doc_id`, score column `<lex>`).
    */
  def bm25Lex(lex: String): String =
    s"""$bm25Stats,
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
       |$bm25Idf,
       |qt AS (SELECT DISTINCT doc_id AS query_id, tok FROM tf WHERE doc_id % 100 = 0),
       |ls AS (SELECT qt.query_id, tf.doc_id,
       |    CAST(floor(1e6 * idf * (tf * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS BIGINT) AS tm
       |  FROM qt JOIN tf USING (tok) JOIN idf USING (tok)
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  WHERE tf.doc_id <> qt.query_id),
       |lex AS (SELECT query_id, doc_id, CAST(sum(tm) AS BIGINT) AS $lex FROM ls GROUP BY 1, 2)""".stripMargin

  /** `s`/`sc`: the marker-substring scores `s_de`, `s_en`, `s_es`, `s_zh` of
    * `TextAnalysis.languageId` per document, with its `labeled_lang`.
    */
  val langidScores: String =
    """s AS (SELECT doc_id, lang AS labeled_lang, lower(text) AS t FROM documents),
      |sc AS (SELECT doc_id, labeled_lang,
      |  (CASE WHEN t LIKE '%ei%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%ch%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%en%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%un%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%sch%' THEN 1 ELSE 0 END) AS s_de,
      |  (CASE WHEN t LIKE '%th%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%he%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%in%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%er%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%an%' THEN 1 ELSE 0 END) AS s_en,
      |  (CASE WHEN t LIKE '%de%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%la%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%os%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%el%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%ar%' THEN 1 ELSE 0 END) AS s_es,
      |  (CASE WHEN t LIKE '%zh%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%sh%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%ng%' THEN 1 ELSE 0 END + CASE WHEN t LIKE '%xi%' THEN 1 ELSE 0 END
      |   + CASE WHEN t LIKE '%qi%' THEN 1 ELSE 0 END) AS s_zh
      |FROM s)""".stripMargin


  // Pivot-cell ANN, the graph beam and the approximate-index contract.
  /** `e`/`p`/`r`/`cell`/`probes`/`cand`: the pivot-cell candidate pairs of
    * `Similarity.knnGraphPivoted(nPivots = 32, nProbe = 4)`, and `<scored>`:
    * each pair's cosine `cs`. The pivots are the 32 lowest `vec_id`s; each
    * vector's cell is its nearest pivot, and a query probes its 4 nearest
    * pivots' cells (ties break by pivot id).
    */
  def pivotScored(scored: String): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT vec_id AS pid, v AS pv FROM e ORDER BY vec_id LIMIT 32),
       |r AS (
       |  SELECT e.vec_id, p.pid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, p.pv) DESC, p.pid) AS pr
       |  FROM e CROSS JOIN p),
       |cell AS (SELECT vec_id AS neighbor_id, pid AS cluster FROM r WHERE pr = 1),
       |probes AS (SELECT vec_id AS query_id, pid AS cluster FROM r WHERE pr <= 4),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM probes JOIN cell USING (cluster)
       |  WHERE query_id <> neighbor_id),
       |$scored AS (
       |  SELECT c.query_id, c.neighbor_id, list_cosine_similarity(q.v, n.v) AS cs
       |  FROM cand c JOIN e q ON q.vec_id = c.query_id
       |  JOIN e n ON n.vec_id = c.neighbor_id)""".stripMargin

  /** [[pivotScored]] plus `g`, the pivoted 5-NN graph (`src` → `dst`), and
    * `seeds`, the graph neighbours of the queries `vec_id < 8`.
    */
  def pivotGraph(scored: String): String =
    s"""${pivotScored(scored)},
       |g AS (
       |  SELECT query_id AS src, neighbor_id AS dst,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
       |  FROM $scored QUALIFY rnk <= 5),
       |seeds AS (SELECT src AS query_id, dst AS cand FROM g WHERE src < 8)""".stripMargin

  /** [[pivotGraph]] plus one beam hop (`hop`, `beam`) and `rescored`: each
    * beam candidate's exact cosine `cs` to its query, as
    * `Similarity.graphTopK(hops = 1)` ranks them.
    */
  def graphBeam(scored: String): String =
    s"""${pivotGraph(scored)},
       |hop AS (SELECT s.query_id, g2.dst AS cand FROM seeds s JOIN g g2 ON g2.src = s.cand),
       |beam AS (
       |  SELECT DISTINCT query_id, cand
       |  FROM (SELECT * FROM seeds UNION ALL SELECT * FROM hop)
       |  WHERE cand <> query_id),
       |rescored AS (
       |  SELECT b.query_id, b.cand AS neighbor_id, list_cosine_similarity(q.v, n.v) AS cs
       |  FROM beam b JOIN e q ON q.vec_id = b.query_id
       |  JOIN e n ON n.vec_id = b.cand)""".stripMargin

  /** The two rows of `QueryUtil.annToleranceRows` for the queries `vec_id < 8`:
    * the oracle counts the queries itself and expects the tolerance row to
    * read 1.
    */
  val annTolerance: String =
    """SELECT 'queries_answered' AS metric,
      |  CAST(count(DISTINCT vec_id) AS BIGINT) AS value FROM embeddings WHERE vec_id < 8
      |UNION ALL SELECT 'off_top20_within_tolerance', CAST(1 AS BIGINT)""".stripMargin


  /** `e`/`knn`/`und`/`adj`: the undirected 3-NN graph (`a` < `b`) over the
    * sample `vec_id % 10 = 0`, and its adjacency `adj` (`z`, `n`) both ways.
    */
  val sampleKnnGraph: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id % 10 = 0),
      |knn AS (SELECT q.vec_id AS qa, n.vec_id AS qb,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rnk
      |  FROM e q JOIN e n ON n.vec_id <> q.vec_id QUALIFY rnk <= 3),
      |und AS MATERIALIZED (SELECT DISTINCT least(qa, qb) AS a, greatest(qa, qb) AS b
      |  FROM knn),
      |adj AS (SELECT a AS z, b AS n FROM und UNION ALL SELECT b, a FROM und)""".stripMargin

  // Fixed-point vector algebra over integer-quantized embeddings.
  /** `e`: each embedding as integers, `q = floor(x · 10000)` per dimension. */
  val quantizedEmbeddings: String =
    """e AS (SELECT vec_id,
      |  list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 10000) AS BIGINT)) AS q
      |  FROM embeddings)""".stripMargin

  /** [[quantizedEmbeddings]] plus `u`: one row per (`vec_id`, dimension
    * `idx`, value `qv`).
    */
  val quantizedDims: String =
    s"""$quantizedEmbeddings,
       |u AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
       |      FROM e, unnest(range(1, len(q) + 1)) AS t(i))""".stripMargin

  /** [[quantizedDims]] plus the first Lloyd round of `Similarity.lloydKMeansQ`
    * (k = 8): seeds `c0` (the 8 lowest ids), assignment `a0` (ties to the
    * lower cluster) and the floored-mean centroids `c1`.
    */
  val lloydFirstRound: String =
    s"""$quantizedDims,
       |c0 AS (SELECT vec_id AS cl, idx, qv AS cv FROM u
       |       WHERE vec_id IN (SELECT DISTINCT vec_id FROM u ORDER BY vec_id LIMIT 8)),
       |s0 AS (SELECT u.vec_id, c.cl, sum((u.qv - c.cv) * (u.qv - c.cv)) AS d2
       |       FROM u JOIN c0 c USING (idx) GROUP BY 1, 2),
       |a0 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM s0)
       |       WHERE rn = 1),
       |c1 AS (SELECT a.cl, u.idx,
       |         CAST(floor(CAST(sum(u.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
       |       FROM u JOIN a0 a USING (vec_id) GROUP BY 1, 2)""".stripMargin

  /** [[quantizedEmbeddings]] plus the first round of `Similarity.pqTrainQ`
    * (4 subspaces `sub` of 16 dimensions, k = 4): per-subspace rows `u`,
    * seeds `c0`, assignment `a0` and centroids `c1`.
    */
  val pqFirstRound: String =
    s"""$quantizedEmbeddings,
       |u AS (SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS sub,
       |        CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
       |      FROM e, unnest(range(1, len(q) + 1)) AS t(i)),
       |c0 AS (SELECT vec_id AS cl, sub, idx, qv AS cv FROM u
       |       WHERE vec_id IN (SELECT DISTINCT vec_id FROM u ORDER BY vec_id LIMIT 4)),
       |s0 AS (SELECT u.vec_id, u.sub, c.cl, sum((u.qv - c.cv) * (u.qv - c.cv)) AS d2
       |       FROM u JOIN c0 c ON c.sub = u.sub AND c.idx = u.idx GROUP BY 1, 2, 3),
       |a0 AS (SELECT vec_id, sub, cl FROM (SELECT vec_id, sub, cl,
       |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rn FROM s0)
       |       WHERE rn = 1),
       |c1 AS (SELECT a.cl, u.sub, u.idx,
       |         CAST(floor(CAST(sum(u.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
       |       FROM u JOIN a0 a ON a.vec_id = u.vec_id AND a.sub = u.sub GROUP BY 1, 2, 3)""".stripMargin

  /** [[quantizedDims]] plus `mu`, the floored mean per dimension, and `c`,
    * the centered values `cv`.
    */
  val centeredDims: String =
    s"""$quantizedDims,
       |mu AS (SELECT idx, CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS mu
       |       FROM u GROUP BY 1),
       |c AS (SELECT vec_id, idx, qv - mu AS cv FROM u JOIN mu USING (idx))""".stripMargin

  /** [[centeredDims]] plus `cov`, the sign-split fixed-point covariance
    * `cv` per (`i`, `j`), and `v0`, the all-10000 start vector of
    * `Similarity.pcaPowerQ`.
    */
  val powerIterationStart: String =
    s"""$centeredDims,
       |cov AS (SELECT i, j, CAST(CASE WHEN s < 0 THEN -(abs(s) // nn)
       |          ELSE abs(s) // nn END AS BIGINT) AS cv
       |        FROM (SELECT a.idx AS i, b.idx AS j,
       |                CAST(sum(a.cv * b.cv) AS BIGINT) AS s
       |              FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
       |             (SELECT count(*) AS nn FROM embeddings)),
       |v0 AS (SELECT DISTINCT idx AS j, CAST(10000 AS BIGINT) AS v FROM u)""".stripMargin

  /** `w<t>`/`m<t>`/`v<t>` for `t` in 1 to `iters`: the power-iteration
    * rounds of `Similarity.pcaPowerQ` from `v0` over `cov`, each a matvec
    * renormalized by sign-split division by `max |w| / 10000`.
    */
  def powerRounds(iters: Int): String =
    (1 to iters).map { t =>
      s"""w$t AS (SELECT cov.i AS j, CAST(sum(cov.cv * v${t - 1}.v) AS BIGINT) AS w
         |  FROM cov JOIN v${t - 1} ON v${t - 1}.j = cov.j GROUP BY 1),
         |m$t AS (SELECT greatest(max(abs(w)) // 10000, 1) AS m FROM w$t),
         |v$t AS (SELECT j, CAST(CASE WHEN w < 0 THEN -(abs(w) // m)
         |  ELSE abs(w) // m END AS BIGINT) AS v FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")


  // Media: the integer DCT and the audio fingerprints.
  /** `kt` (`u`, `x`, `k`): the 8-point DCT-II basis scaled to integers,
    * `k = round(10000 · cos((2x + 1)uπ / 16))`, the table
    * `Imaging.DctBasis` holds.
    */
  val dctBasis: String =
    """kt AS (SELECT * FROM (VALUES
      |  (0,0,10000), (0,1,10000), (0,2,10000), (0,3,10000), (0,4,10000), (0,5,10000), (0,6,10000), (0,7,10000),
      |  (1,0,9808), (1,1,8315), (1,2,5556), (1,3,1951), (1,4,-1951), (1,5,-5556), (1,6,-8315), (1,7,-9808),
      |  (2,0,9239), (2,1,3827), (2,2,-3827), (2,3,-9239), (2,4,-9239), (2,5,-3827), (2,6,3827), (2,7,9239),
      |  (3,0,8315), (3,1,-1951), (3,2,-9808), (3,3,-5556), (3,4,5556), (3,5,9808), (3,6,1951), (3,7,-8315),
      |  (4,0,7071), (4,1,-7071), (4,2,-7071), (4,3,7071), (4,4,7071), (4,5,-7071), (4,6,-7071), (4,7,7071),
      |  (5,0,5556), (5,1,-9808), (5,2,1951), (5,3,8315), (5,4,-8315), (5,5,-1951), (5,6,9808), (5,7,-5556),
      |  (6,0,3827), (6,1,-9239), (6,2,9239), (6,3,-3827), (6,4,-3827), (6,5,9239), (6,6,-9239), (6,7,3827),
      |  (7,0,1951), (7,1,-5556), (7,2,8315), (7,3,-9808), (7,4,9808), (7,5,-8315), (7,6,5556), (7,7,-1951)
      |) AS t(u, x, k))""".stripMargin

  /** `w`/`bsum`/`kt`/`c`: the DCT of `Audio.spectralFingerprints`' synthetic
    * PCM over `u` (`doc_id`, seed `s`, sample index `i`). Frame `t` has 32
    * samples in 8 bins `x`; `c` holds each frame's coefficient `coef` per
    * frequency `u`.
    */
  val audioDct: String =
    s"""w AS (SELECT doc_id, i // 32 AS t, (i % 32) // 4 AS x,
       |        ((s + 1) * ((i*i) % 97) + 13*i) % 4001 - 2000
       |        + CASE WHEN doc_id % 5 = 0 AND i < 24 THEN 1500 ELSE 0 END AS amp
       |      FROM u),
       |bsum AS (SELECT doc_id, t, x, CAST(sum(amp) AS BIGINT) AS bs FROM w GROUP BY 1, 2, 3),
       |$dctBasis,
       |c AS (SELECT b.doc_id, b.t, kt.u, CAST(sum(b.bs * kt.k) AS BIGINT) AS coef
       |      FROM bsum b JOIN kt ON kt.x = b.x GROUP BY 1, 2, 3)""".stripMargin

  /** [[audioDct]] plus `fp`: each document's 64-bit fingerprint `afp`, bit
    * `t*8 + u` set where that coefficient is positive.
    */
  val audioFingerprints: String =
    s"""$audioDct,
       |fp AS (SELECT doc_id,
       |         bit_or(CASE WHEN coef > 0 AND t*8 + u = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |                     WHEN coef > 0 THEN CAST(1 AS BIGINT) << CAST(t*8 + u AS INT)
       |                     ELSE CAST(0 AS BIGINT) END) AS afp
       |       FROM c GROUP BY doc_id)""".stripMargin


  // Order analytics.
  /** `agg`/`m`: `QueryUtil.urgentVsRestMoments` over `orders` (`na`, `nb`,
    * `mean_a`, `mean_b`, `var_a`, `var_b` in `m`).
    */
  val urgentVsRestMoments: String =
    """agg AS (SELECT
      |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT'
      |        THEN CAST(o_totalprice AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS sa,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT'
      |        THEN CAST(o_totalprice AS DECIMAL(19,6)) * CAST(o_totalprice AS DECIMAL(19,6))
      |        ELSE CAST(0 AS DECIMAL(19,6)) * CAST(0 AS DECIMAL(19,6)) END) AS saa,
      |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END) AS BIGINT) AS nb,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT'
      |        THEN CAST(0 AS DECIMAL(18,6)) ELSE CAST(o_totalprice AS DECIMAL(18,6)) END) AS sb,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT'
      |        THEN CAST(0 AS DECIMAL(19,6)) * CAST(0 AS DECIMAL(19,6))
      |        ELSE CAST(o_totalprice AS DECIMAL(19,6)) * CAST(o_totalprice AS DECIMAL(19,6)) END) AS sbb
      |  FROM orders),
      |m AS (SELECT na, nb,
      |    CAST(sa AS DOUBLE) / na AS mean_a, CAST(sb AS DOUBLE) / nb AS mean_b,
      |    CASE WHEN na > 1 THEN (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / na) / (na - 1) END AS var_a,
      |    CASE WHEN nb > 1 THEN (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / nb) / (nb - 1) END AS var_b
      |  FROM agg)""".stripMargin

  /** `o`/`f`/`s2`/`mx`: each customer's order dates `d`, first order date
    * `fd`, second order date `sd` (customers with one), and the last order
    * date `maxd`.
    */
  val secondOrderGaps: String =
    """o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
      |f AS (SELECT o_custkey, min(d) AS fd FROM o GROUP BY 1),
      |s2 AS (SELECT o.o_custkey, min(d) AS sd
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey AND o.d > f.fd GROUP BY 1),
      |mx AS (SELECT max(d) AS maxd FROM o)""".stripMargin

  /** [[secondOrderGaps]] plus `subj`/`byt`/`n`/`risk`:
    * `QueryUtil.secondOrderRiskSet` before its `d_events > 0` filter.
    */
  val secondOrderRiskSet: String =
    s"""$secondOrderGaps,
       |subj AS (SELECT
       |    CAST(CASE WHEN s2.sd IS NOT NULL THEN date_diff('day', f.fd, s2.sd)
       |         ELSE date_diff('day', f.fd, mx.maxd) END AS BIGINT) AS t,
       |    CAST(CASE WHEN s2.sd IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS ev
       |  FROM f LEFT JOIN s2 ON f.o_custkey = s2.o_custkey CROSS JOIN mx),
       |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS a,
       |    CAST(sum(ev) AS BIGINT) AS d_events FROM subj GROUP BY 1),
       |n AS (SELECT CAST(sum(a) AS BIGINT) AS nn FROM byt),
       |risk AS (SELECT t, d_events,
       |    nn - sum(a) OVER (ORDER BY t) + a AS n_risk FROM byt CROSS JOIN n)""".stripMargin

  /** `per`/`g`/`st`: the per-nation tests of `QueryUtil.nationRateRanks`
    * (`nk`, `n`, `k`, `m`, `lnp` in `st`), before the ranking.
    */
  val nationRateTests: String =
    """per AS (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      |g AS (SELECT CAST(sum(n) AS DOUBLE) AS tn, CAST(sum(k) AS DOUBLE) AS tk,
      |    CAST(count(*) AS BIGINT) AS m FROM per),
      |st AS (SELECT nk, n, k, m,
      |    0.6931471805599453 - 2.0 * n
      |      * (CAST(k AS DOUBLE) / n - tk / tn)
      |      * (CAST(k AS DOUBLE) / n - tk / tn) AS lnp
      |  FROM per, g)""".stripMargin

  /** `monthly`: `QueryUtil.nationMonthlyRevenue` (`nk`, `m`, `y`). */
  val nationMonthlyRevenue: String =
    """monthly AS (
      |  SELECT c_nationkey AS nk,
      |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS m,
      |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2)""".stripMargin

  /** `el`/`hd`: the elements of `QueryUtil.thetaSketches` and their 48-bit md5
    * hashes `h` per event type `t`.
    */
  val thetaHashes: String =
    """el AS (SELECT DISTINCT event_type AS t,
      |    user_id * 1000 + date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS elem
      |  FROM events),
      |hd AS (SELECT DISTINCT t, CAST(list_sum(list_transform(range(1, 13),
      |    i -> (strpos('0123456789abcdef',
      |           substr(md5(CAST(elem AS VARCHAR)), CAST(i AS INT), 1)) - 1)
      |         * 16.0 ** (12 - i))) AS BIGINT) AS h
      |  FROM el)""".stripMargin

  /** `cells`/`complete`/`ranked`: the doubled Friedman ranks `r2` of
    * `QueryUtil.priorityRankSums` per month block `b` and priority `trt`.
    */
  val priorityBlockRanks: String =
    """cells AS (SELECT
      |    year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS b,
      |    o_orderpriority AS trt,
      |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS y
      |  FROM orders GROUP BY 1, 2),
      |complete AS (SELECT b FROM cells GROUP BY b HAVING count(*) = 5),
      |ranked AS (SELECT c.b, c.trt,
      |    CAST(2 * rank() OVER (PARTITION BY c.b ORDER BY c.y)
      |      + count(*) OVER (PARTITION BY c.b, c.y) - 1 AS BIGINT) AS r2
      |  FROM cells c JOIN complete USING (b))""".stripMargin
}
