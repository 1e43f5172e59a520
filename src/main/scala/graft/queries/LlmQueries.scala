package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QueryUtil._

import graft.operators.{Audio, Dedup, Graph, Imaging, Multimodal, Similarity, TextAnalysis, Video}
import graft.sources.Sources

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables: dedup (exact / n-gram Jaccard / MinHash-LSH /
  * SimHash / embedding-cosine), similarity search (brute-force + LSH),
  * text analysis, and multimodal plumbing.
  *
  * Oracle coverage: everything whose semantics are SQL-expressible gets a
  * DuckDB oracle; the hash-seeded approximations (MinHash, SimHash,
  * hyperplane LSH) are checked rows-only by the driver and cross-validated
  * against their exact counterparts in the ScalaTest suite instead.
  *
  * Cache contract (caller-must-clear-cache): catalog entries persist
  * intermediates that multiple branches of one plan read; nothing
  * unpersists inside the lambdas because the harness (Verify/Bench)
  * calls `clearCache()` between entries. A library caller embedding
  * these plans owns the session-cache lifecycle the same way.
  */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Sources.table(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Sources.table(s, dir, "embeddings")

  /** Recursive-CTE transitive-closure oracle over the exact-Jaccard pair
    * graph. Shared verbatim by the exact-pair CC entries and their LSH
    * twins: the LSH pair set equals the exact one on the fixtures (total
    * banding recall + exact-Jaccard verification, asserted in DedupSpec and
    * proven green by dedup_minhash_lsh), so the same fixpoint applies.
    */
  private val ccOracleSql =
    s"""WITH RECURSIVE ${OracleSql.shingleCounts},
      |rawpairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |npairs AS (
      |  SELECT doc_a, doc_b FROM rawpairs p
      |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
      |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM npairs
      |          UNION SELECT doc_b, doc_a FROM npairs),
      |reach AS (
      |  SELECT a AS node, b AS r FROM edges
      |  UNION
      |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
      |""".stripMargin
  private val ccClustersSql = ccOracleSql +
    """SELECT node AS doc_id, least(node, min(r)) AS cluster_id
      |FROM reach GROUP BY node""".stripMargin
  private val ccRepresentativesSql = ccOracleSql +
    """,cc AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node)
      |SELECT doc_id FROM documents
      |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node != cluster_id)""".stripMargin

  /** FIXED-CARDINALITY evaluation sample for the ER audit family
    * (er_blocking_eval / _multipass / er_fs_weights / _em / _classify):
    * the `erSampleN` documents with the smallest multiplicative hash of
    * doc_id (Knuth 2654435761, mod a prime; ties by doc_id — a total
    * order, so the sample is deterministic on any engine). The r10
    * `doc_id % 5` sample was SF-PROPORTIONAL, so the all-pairs
    * ground-truth stage grew as n²/25 — quadratic compute and an
    * unbounded broadcast at 100 TB. A hash-ordered `LIMIT N` caps the
    * pair space at N·(N−1)/2 = 19 900 comparisons at EVERY scale factor:
    * the exhaustive-truth methodology survives, the cost does not grow
    * with the corpus, and the plan is a `TakeOrderedAndProject` feeding a
    * bounded self-join (both inputs Limit-bounded — PlanAudit's
    * cross-shape class verifies exactly this). The modular hash is
    * overflow-safe ((doc_id % 1000003) ≤ 1e6, ×2654435761 < 2^63) and
    * engine-portable integer arithmetic, so the oracle replays the
    * selection bit-for-bit.
    */
  private val erSampleN = 200
  private def erSample(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        expr("CAST(n_chars div 25 AS BIGINT)").as("lb"),
        substring(col("text"), 1, 100).as("p"),
        substring_index(col("text"), " ", 2).as("pref"))
      .orderBy(expr("(doc_id % 1000003) * 2654435761 % 1000003"), col("doc_id"))
      .limit(erSampleN)
  private val erSampleCte =
    s"""d AS (SELECT doc_id, source, n_chars // 25 AS lb, substr(text, 1, 100) AS p,
       |    array_to_string(string_split(text, ' ')[1:2], ' ') AS pref
       |  FROM documents
       |  ORDER BY (doc_id % 1000003) * 2654435761 % 1000003, doc_id
       |  LIMIT $erSampleN)""".stripMargin

  /** Merge-round count for the BPE training entries — a tokenizer
    * hyperparameter (real runs use 3e4-1e5; 8 keeps the unrolled oracle
    * readable while exercising multi-character merges-of-merges).
    */
  private val bpeRounds = 8

  /** Generator for the unrolled BPE-training oracle: one CTE block per
    * merge round, each replaying pair-count → deterministic best-pair →
    * greedy left-to-right merge application RELATIONALLY — greedy
    * non-overlap selection is gaps-and-islands over the match positions
    * (in a maximal run of consecutive matching positions, the merges land
    * on offsets 0, 2, 4, … — odd `row_number` within the island), and the
    * rebuild concatenates via `lead()` then renumbers. Deliberately a
    * DIFFERENT formulation from the Spark side's sequential fold, so the
    * two agree only if the merge semantics themselves are right.
    * `finalSelect` reads `b1..bR` (per-round best pairs) and `tR` (final
    * tokenization).
    */
  private def bpeOracleSql(rounds: Int, finalSelect: String): String = {
    // every per-round state CTE is MATERIALIZED: DuckDB inlines plain CTEs
    // at each reference, and this chain references each round's state
    // several times — un-materialized, the expansion is exponential in the
    // round count (the first run died opening the parquet 5^8 times)
    val head =
      """WITH words AS MATERIALIZED (
        |  SELECT wd, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
        |  WHERE length(wd) >= 1 GROUP BY wd),
        |t0 AS MATERIALIZED (SELECT wd, freq, CAST(i AS BIGINT) AS pos, substr(wd, CAST(i AS INT), 1) AS tok
        |       FROM (SELECT wd, freq, unnest(range(1, length(wd) + 1)) AS i FROM words))""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s""",p$r AS (SELECT a.tok AS pa, b.tok AS pb, CAST(sum(a.freq) AS BIGINT) AS wsum
         |  FROM t$p a JOIN t$p b ON b.wd = a.wd AND b.pos = a.pos + 1 GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT pa, pb, wsum FROM p$r ORDER BY wsum DESC, pa, pb LIMIT 1),
         |m$r AS (SELECT t.wd, t.pos FROM t$p t JOIN t$p u ON u.wd = t.wd AND u.pos = t.pos + 1
         |  JOIN b$r bb ON t.tok = bb.pa AND u.tok = bb.pb),
         |s$r AS MATERIALIZED (SELECT wd, pos FROM (
         |    SELECT wd, pos, row_number() OVER (PARTITION BY wd, grp ORDER BY pos) AS rn2
         |    FROM (SELECT wd, pos, pos - row_number() OVER (PARTITION BY wd ORDER BY pos) AS grp
         |          FROM m$r)) WHERE rn2 % 2 = 1),
         |x$r AS (SELECT t.wd, t.freq, t.pos,
         |    CASE WHEN s1.pos IS NOT NULL
         |         THEN t.tok || lead(t.tok) OVER (PARTITION BY t.wd ORDER BY t.pos)
         |         ELSE t.tok END AS tok,
         |    s2.pos IS NOT NULL AS dropme
         |  FROM t$p t
         |  LEFT JOIN s$r s1 ON s1.wd = t.wd AND s1.pos = t.pos
         |  LEFT JOIN s$r s2 ON s2.wd = t.wd AND s2.pos = t.pos - 1),
         |t$r AS MATERIALIZED (SELECT wd, freq, CAST(row_number() OVER (PARTITION BY wd ORDER BY pos) AS BIGINT) AS pos, tok
         |  FROM x$r WHERE NOT dropme)""".stripMargin
    }.mkString("\n")
    head + "\n" + roundCtes + "\n" + finalSelect
  }

  /** DuckDB replay of the Imaging pixel formula → 2×2 block sums → dHash +
    * aHash, shared by the perceptual-hash entries. Mirrors
    * [[graft.operators.Imaging.pixel]] exactly (18×16 canvas, 9×8 grid);
    * the Spark side computes the same hashes from ImageIO-DECODED pixels,
    * so agreement proves the whole encode→decode→hash path.
    */
  private val dhashOracleCte =
    """WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s FROM documents),
      |xs AS (SELECT doc_id, s, unnest(range(0, 18)) AS x FROM d),
      |px AS (SELECT doc_id, s, x, unnest(range(0, 16)) AS y FROM xs),
      |v AS (SELECT doc_id, x, y,
      |        (s*31 + x*7 + y*13 + x*y*(s+3)
      |         + CASE WHEN doc_id % 5 = 0 AND x = y AND x < 6 THEN 96 ELSE 0 END) % 256 AS v
      |      FROM px),
      |blk AS (SELECT doc_id, x // 2 AS bx, y // 2 AS by, sum(v) AS bs FROM v GROUP BY 1, 2, 3),
      |cmp AS (SELECT a.doc_id, a.bx, a.by, CASE WHEN a.bs > b.bs THEN 1 ELSE 0 END AS bit
      |        FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
      |        WHERE a.bx < 8),
      |dh AS (SELECT doc_id,
      |         bit_or(CASE WHEN bit = 1 AND by*8 + bx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |                     WHEN bit = 1 THEN CAST(1 AS BIGINT) << CAST(by*8 + bx AS INT)
      |                     ELSE CAST(0 AS BIGINT) END) AS dhash
      |       FROM cmp GROUP BY doc_id),
      |tot AS (SELECT doc_id, sum(bs) AS total FROM blk WHERE bx < 8 GROUP BY doc_id),
      |ah AS (SELECT b.doc_id,
      |         bit_or(CASE WHEN 64*b.bs > t.total AND b.by*8 + b.bx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |                     WHEN 64*b.bs > t.total THEN CAST(1 AS BIGINT) << CAST(b.by*8 + b.bx AS INT)
      |                     ELSE CAST(0 AS BIGINT) END) AS ahash
      |       FROM blk b JOIN tot t ON b.doc_id = t.doc_id WHERE b.bx < 8 GROUP BY b.doc_id)
      |""".stripMargin

  /** DuckDB replay of the Video frame formula → per-frame 2×2 block sums →
    * dHash, shared by the video entries. Mirrors
    * [[graft.operators.Video.framePixel]] exactly (18×16 canvas, 3..8
    * frames, scene shift every 3, 4-pixel diagonal jitter on f%3==1); the
    * Spark side computes the same hashes from GIF-DECODED frames, so
    * agreement proves the whole animated-container encode→decode→hash path.
    */
  private val videoFrameHashCte =
    """WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
      |  3 + doc_id % 6 AS nf FROM documents),
      |fr AS (SELECT doc_id, s, unnest(range(0, nf)) AS f FROM d),
      |xs AS (SELECT doc_id, s, f, unnest(range(0, 18)) AS x FROM fr),
      |px AS (SELECT doc_id, s, f, x, unnest(range(0, 16)) AS y FROM xs),
      |v AS (SELECT doc_id, f, x, y,
      |        (s*31 + x*7 + y*13 + x*y*(s + 3 + 11*(f // 3))
      |         + CASE WHEN f % 3 = 1 AND x = y AND x < 4 THEN 64 ELSE 0 END) % 256 AS v
      |      FROM px),
      |blk AS (SELECT doc_id, f, x // 2 AS bx, y // 2 AS by, sum(v) AS bs FROM v GROUP BY 1, 2, 3, 4),
      |cmp AS (SELECT a.doc_id, a.f, a.bx, a.by, CASE WHEN a.bs > b.bs THEN 1 ELSE 0 END AS bit
      |        FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.f = b.f AND a.by = b.by AND b.bx = a.bx + 1
      |        WHERE a.bx < 8),
      |fh AS (SELECT doc_id, f,
      |         bit_or(CASE WHEN bit = 1 AND by*8 + bx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |                     WHEN bit = 1 THEN CAST(1 AS BIGINT) << CAST(by*8 + bx AS INT)
      |                     ELSE CAST(0 AS BIGINT) END) AS dhash
      |       FROM cmp GROUP BY 1, 2)
      |""".stripMargin

  val defs: Map[String, (Q, Option[String])] = Map(

    // URL canonicalization — the FIRST dedup pass of a web corpus, run
    // before any content hashing because it is a pure map: fold the
    // classic fetch-variants of one page (scheme, www-prefix, trailing
    // slash, tracking query params, fragments) into one canonical key
    // and group. The fixture carries no URL column, so the four variant
    // forms are synthesized deterministically from (source, doc_id) —
    // same-source docs 4-apart share a page — and the regexp chain (the
    // operator under test) must fold each quartet to one canonical URL.
    // Anchored/single-match patterns only, where Spark's replace-all and
    // DuckDB's replace-first semantics coincide. Scale: map + one hash
    // aggregate on the canonical key; no joins, no windows.
    "text_url_canonicalize" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val base = concat(col("source"), lit(".example.com/d/"),
          expr("CAST(doc_id div 80 AS STRING)"))
        val v = expr("(doc_id div 20) % 4")
        val url = when(v === 0, concat(lit("https://www."), base))
          .when(v === 1, concat(lit("http://"), base, lit("/")))
          .when(v === 2, concat(lit("https://"), base,
            lit("?utm_source=feed&utm_medium=rss")))
          .otherwise(concat(lit("https://www."), base, lit("#section-2")))
        val canon = regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(url, "^https?://", ""), "^www\\.", ""),
          "[?#].*", ""), "/$", "")
        d.select(col("doc_id"), canon.as("canonical_url"))
          .groupBy("canonical_url")
          .agg(count(lit(1)).as("dup_cnt"), min("doc_id").as("rep_doc"))
      },
      Some("""WITH u AS (SELECT doc_id,
        |    source || '.example.com/d/' || CAST(doc_id // 80 AS VARCHAR) AS b,
        |    (doc_id // 20) % 4 AS v FROM documents),
        |urls AS (SELECT doc_id, CASE v WHEN 0 THEN 'https://www.' || b
        |    WHEN 1 THEN 'http://' || b || '/'
        |    WHEN 2 THEN 'https://' || b || '?utm_source=feed&utm_medium=rss'
        |    ELSE 'https://www.' || b || '#section-2' END AS url FROM u),
        |c AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(url, '^https?://', ''), '^www\.', ''),
        |    '[?#].*', ''), '/$', '') AS canonical_url FROM urls)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS dup_cnt,
        |  min(doc_id) AS rep_doc FROM c GROUP BY 1""".stripMargin)
    )),

    "dedup_exact" -> ((
      (s: SparkSession, dir: String) => Dedup.exact(docs(s, dir)),
      Some("""SELECT md5(text) AS fp, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_cnt
        |FROM documents GROUP BY text""".stripMargin)
    )),

    // Exact word-3-gram Jaccard near-dup pairs at ≥ 0.8 — integer-arithmetic
    // threshold so both engines agree bit-for-bit.
    "dedup_ngram_jaccard" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.ngramJaccardPairs(docs(s, dir), n = 3, pct = 80, maxDf = 0),
      Some(s"""WITH ${OracleSql.shinglePairs("pairs")}
        |SELECT doc_a, doc_b, common, ca.n_sh AS n_sh_a, cb.n_sh AS n_sh_b
        |FROM pairs p JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)""".stripMargin)
    )),

    // The dedup filter itself: documents surviving near-dup removal
    // (exact-Jaccard pairs, greedy keep-lowest-id representative).
    "dedup_keep_representatives" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        Dedup.dropNearDuplicates(d,
            Dedup.ngramJaccardPairs(d, n = 3, pct = 80, maxDf = 0))
          .select(col("doc_id"))
      },
      Some(s"""WITH ${OracleSql.shinglePairs("pairs")},
        |dups AS (
        |  SELECT DISTINCT doc_b FROM pairs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common))
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_b FROM dups)""".stripMargin)
    )),

    // Transitive near-dup clusters: connected components over the exact
    // pair graph (iterative min-label propagation). DuckDB reproduces the
    // fixpoint with a recursive reachability CTE — cluster id = min doc_id
    // of the component on both sides.
    "dedup_clusters" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(d, n = 3, pct = 80, maxDf = 0))
          .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
      },
      Some(ccClustersSql)
    )),

    // Transitive clusters on the SCALE path: CC over MinHash-LSH pairs — no
    // all-pairs stage anywhere in the plan. This is the composition a 100 TB
    // dedup pipeline actually runs; same recursive-CTE oracle because the
    // LSH pair set equals the exact one on the fixtures.
    "dedup_clusters_lsh" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        Dedup.connectedComponents(Dedup.minhashLshPairs(d))
          .select(col("doc_id"), col("cluster_id").cast("long").as("cluster_id"))
      },
      Some(ccClustersSql)
    )),

    // The dedup QA report: how big are the near-dup clusters? (size → how
    // many clusters of that size, over the scale-path LSH pairs). The
    // number a corpus owner reads before choosing a dedup threshold; two
    // tiny aggregates on top of the CC labels.
    "dedup_cluster_sizes" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        Dedup.connectedComponents(Dedup.minhashLshPairs(d))
          .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      },
      Some(ccOracleSql +
        """,cc AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
          |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          |          FROM cc GROUP BY cluster_id)
          |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
          |FROM sizes GROUP BY cluster_size""".stripMargin)
    )),

    // Dedup threshold tuning curve — the table a corpus owner reads
    // BEFORE fixing the 0.8 Jaccard cutoff the rest of the catalog uses:
    // qualifying pair count and docs-dropped count at 70/80/90%, from
    // ONE pass over the pair relation (generated once at the loosest
    // threshold, each tier a filter over the same exact integer
    // jaccard_x1000 — not three pipeline runs). docs-dropped uses the
    // greedy pairwise rule (a doc drops when a lower-id qualifying
    // partner exists), matching dedup_filtered's semantics.
    "dedup_threshold_curve" -> ((
      (s: SparkSession, dir: String) => {
        val pr = Dedup.ngramJaccardPairs(docs(s, dir), n = 3, pct = 70, maxDf = 0)
          .select(col("doc_b"),
            expr("common * 1000 div (n_sh_a + n_sh_b - common)").as("jx"))
          .eagerPersisted
        Seq(700, 800, 900).map { t =>
          pr.filter(col("jx") >= t)
            .agg(count(lit(1)).as("n_pairs"),
              countDistinct(col("doc_b")).as("n_docs_dropped"))
            .select(lit(t / 10L).as("threshold_pct"),
              col("n_pairs"), col("n_docs_dropped"))
        }.reduce(_ unionAll _)
      },
      Some(s"""WITH ${OracleSql.shingleCounts},
        |rawpairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (SELECT doc_b, common * 1000 // (ca.n_sh + cb.n_sh - common) AS jx
        |  FROM rawpairs p JOIN cnt ca ON ca.doc_id = p.doc_a
        |  JOIN cnt cb ON cb.doc_id = p.doc_b)
        |SELECT CAST(70 AS BIGINT) AS threshold_pct, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped FROM jp WHERE jx >= 700
        |UNION ALL SELECT 80, CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp WHERE jx >= 800
        |UNION ALL SELECT 90, CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT doc_b) AS BIGINT) FROM jp WHERE jx >= 900""".stripMargin)
    )),

    // Medoid representative per near-dup cluster — pick the MOST CENTRAL
    // member (max summed pairwise Jaccard affinity, tie → min id) instead
    // of min-id: the curation-quality upgrade when a cluster mixes a
    // clean original with truncated/mangled copies, since the medoid is
    // the member most similar to everything else. Affinity comes from the
    // shingle-POSTING pair relation (the `rawpairs` shape, maxDf=5 skew
    // cap with df counted per (shingle, CLUSTER) — the posting index is
    // member-restricted and the cap tracks per-cluster posting width —
    // denominators on the unpruned counts, same
    // discipline as text_containment_maxdf), restricted to intra-cluster
    // pairs; members
    // whose every pair was pruned get affinity 0 on both engines. Scale:
    // only ids and integer counts cross the pair shuffle — shingle-hash
    // ARRAYS never do — and the per-shingle posting cap bounds pair
    // fan-out at df², independent of cluster width, so one boilerplate
    // mega-cluster cannot make this quadratic (ScaleSpec plants one and
    // checks the shuffle stays array-free).
    "dedup_medoid_representatives" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.medoidRepresentatives(docs(s, dir), n = 3, maxDf = 5),
      Some(ccOracleSql +
        """,cc AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
          |msh AS (SELECT sh.doc_id, cc.cluster_id, sh.s
          |  FROM sh JOIN cc ON cc.node = sh.doc_id),
          |dfc AS (SELECT s, cluster_id, count(*) AS df FROM msh GROUP BY 1, 2),
          |prn AS (SELECT doc_id, s FROM msh JOIN dfc USING (s, cluster_id)
          |  WHERE df <= 5),
          |cpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    CAST(count(*) AS BIGINT) AS common
          |  FROM prn a JOIN prn b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |jp AS (SELECT doc_a, doc_b,
          |    common * 1000 // (ca.n_sh + cb.n_sh - common) AS jx
          |  FROM cpairs p JOIN cnt ca ON ca.doc_id = p.doc_a
          |  JOIN cnt cb ON cb.doc_id = p.doc_b),
          |sym AS (SELECT doc_a AS a, doc_b AS b, jx FROM jp
          |        UNION ALL SELECT doc_b, doc_a, jx FROM jp),
          |intra AS (SELECT cx.cluster_id, s.a, CAST(sum(s.jx) AS BIGINT) AS aff
          |  FROM sym s JOIN cc cx ON cx.node = s.a JOIN cc cy ON cy.node = s.b
          |  WHERE cx.cluster_id = cy.cluster_id GROUP BY 1, 2),
          |aff AS (SELECT cc.cluster_id, cc.node AS a,
          |    coalesce(i.aff, CAST(0 AS BIGINT)) AS aff
          |  FROM cc LEFT JOIN intra i
          |    ON i.cluster_id = cc.cluster_id AND i.a = cc.node),
          |members AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS members
          |  FROM cc GROUP BY 1)
          |SELECT r.cluster_id, r.a AS medoid_doc, r.aff AS affinity_x1000, members.members
          |FROM (SELECT cluster_id, a, aff,
          |    row_number() OVER (PARTITION BY cluster_id ORDER BY aff DESC, a) AS rn
          |  FROM aff) r
          |JOIN members ON members.cluster_id = r.cluster_id WHERE rn = 1""".stripMargin)
    )),

    // GROUP-AWARE train/val/test split — the leakage-CORRECT way to cut a
    // corpus: hash the near-dup CLUSTER id (not the doc id), so every
    // member of a dup cluster lands in the same split and a test document
    // can never have a training-set near-duplicate (q_split_leakage is
    // the audit that catches the naive per-doc hash split doing exactly
    // that). 80/10/10 by md5(cluster) mod 100; unpaired docs are their
    // own group. `leaked_groups` recomputes the zero-leakage invariant
    // from the output instead of trusting the construction. Scale: CC
    // labels (log-round contraction) + one map + two aggregates.
    "q_group_split" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val cc = Dedup.connectedComponents(Dedup.minhashLshPairs(d))
        val grouped = d.select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("grp"))
        val u = conv(substring(md5(col("grp").cast("string")), 1, 6), 16, 10)
          .cast("long") % 100
        val assigned = grouped.select(col("doc_id"), col("grp"),
            when(u < 80, "train").when(u < 90, "val").otherwise("test").as("split"))
          .eagerPersisted
        val leak = assigned.groupBy("grp")
          .agg(countDistinct("split").as("ns"))
          .filter(col("ns") > 1).agg(count(lit(1)).as("leaked_groups"))
        assigned.groupBy("split")
          .agg(count(lit(1)).as("n_docs"), countDistinct("grp").as("n_groups"))
          .crossJoin(broadcast(leak))
          .select(col("split"), col("n_docs"), col("n_groups"),
            col("leaked_groups").cast("long").as("leaked_groups"))
      },
      Some(ccOracleSql +
        """,cc AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
          |g AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS grp
          |      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
          |a AS (SELECT doc_id, grp,
          |    CASE WHEN u < 80 THEN 'train' WHEN u < 90 THEN 'val' ELSE 'test' END AS split
          |  FROM (SELECT doc_id, grp,
          |      CAST(list_sum(list_transform(range(1, 7),
          |        i -> (strpos('0123456789abcdef',
          |               substr(md5(CAST(grp AS VARCHAR)), CAST(i AS INT), 1)) - 1)
          |             * 16.0 ** (6 - i))) AS BIGINT) % 100 AS u
          |    FROM g)),
          |lk AS (SELECT CAST(count(*) AS BIGINT) AS leaked_groups FROM (
          |  SELECT grp FROM a GROUP BY grp HAVING count(DISTINCT split) > 1))
          |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups, lk.leaked_groups
          |FROM a, lk GROUP BY split, lk.leaked_groups""".stripMargin)
    )),

    // The CC-based representative filter: keep exactly one doc (min id) per
    // transitive cluster — the semantics corpus-dedup pipelines document
    // (vs the greedy pairwise filter above, which can keep two docs that
    // are each near-dups of a third but not of each other).
    "dedup_keep_representatives_cc" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val cc = Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(d, n = 3, pct = 80, maxDf = 0))
        d.join(cc.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"))
      },
      Some(ccRepresentativesSql)
    )),

    // The end-to-end 100 TB transitive-dedup filter: one representative per
    // CC cluster, clusters from LSH pairs — every stage of this plan is the
    // one a production corpus runs (signature → band/bucket → verify → CC →
    // anti-join), and every stage is oracle-checked here.
    "dedup_keep_representatives_cc_lsh" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val cc = Dedup.connectedComponents(Dedup.minhashLshPairs(d))
        d.join(cc.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"))
      },
      Some(ccRepresentativesSql)
    )),

    // The scale-path dedup filter users actually run at 100 TB: survivors
    // after MinHash-LSH near-dup removal (no all-pairs stage anywhere in the
    // plan). On the deterministic fixtures the LSH pair set equals the exact
    // one (total banding recall + exact-Jaccard verification), so the same
    // survivor oracle as dedup_keep_representatives applies.
    "dedup_keep_representatives_lsh" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        Dedup.dropNearDuplicates(d, Dedup.minhashLshPairs(d))
          .select(col("doc_id"))
      },
      Some(s"""WITH ${OracleSql.shinglePairs("pairs")},
        |dups AS (
        |  SELECT DISTINCT doc_b FROM pairs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common))
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_b FROM dups)""".stripMargin)
    )),

    // MinHash + LSH banding. Candidates are verified with the *exact*
    // integer Jaccard before emission, so precision is absolute; banding at
    // 16 bands × 4 rows has per-pair miss probability ~2e-4 at j = 0.8
    // (1 - (1-j⁴)¹⁶) and total recall on the deterministic fixtures
    // (asserted in DedupSpec). Output therefore EQUALS the exact pair set —
    // full DuckDB oracle, same integer threshold algebra as
    // dedup_ngram_jaccard (floor(x) >= k ⟺ x >= k for integer k).
    "dedup_minhash_lsh" -> ((
      (s: SparkSession, dir: String) => Dedup.minhashLshPairs(docs(s, dir)),
      Some(s"""WITH ${OracleSql.shinglePairs("pairs")}
        |SELECT doc_a, doc_b,
        |  common * 1000 // (ca.n_sh + cb.n_sh - common) AS jaccard_x1000
        |FROM pairs p JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)""".stripMargin)
    )),

    // The curation FUNNEL REPORT — the one-page readout every corpus run
    // produces: documents and tokens surviving each pipeline stage
    // (raw → rule quality filter → exact dedup → near-dup drop →
    // decontamination), stages composed in sequence over the previous
    // stage's survivors, every count replayed by the oracle through the
    // same five-stage SQL. This is the library's dedup/quality/
    // decontaminate operators composed end-to-end — the number the
    // tokens-per-dollar conversation starts from.
    "pipeline_funnel_report" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val corpus = d.filter(pmod(col("doc_id"), lit(23)) =!= 0)
        val evalSet = d.filter(pmod(col("doc_id"), lit(23)) === 0)
        val s2 = TextAnalysis.qualityFilter(corpus, minTokens = 20,
          maxTokens = 5000, minUniqX1000 = 300)
        val reps = Dedup.exact(s2).select(col("doc_id"))
        // localCheckpoint, not persist: s3's lineage is embedded by the
        // LSH pair stage, the near-dup drop, the contamination report AND
        // three of the five stage aggregates — the composed funnel plan
        // string repeated the quality+dedup chain enough times to pass
        // Spark's 262 KB print ceiling. Materialization cost equals the
        // persist this replaces (the stage re-reads it five times).
        val s3 = s2.join(reps, Seq("doc_id"), "left_semi")
          .localCheckpoint(true)
        // ORACLE CONTRACT (like dedup_simhash's): stage 4 runs LSH-banded
        // candidates exact-Jaccard-verified, while the oracle replays
        // EXHAUSTIVE exact Jaccard at the same 80% cutoff — equality
        // holds iff the banding has zero false negatives on the fixture
        // (true here: every ≥0.8-Jaccard pair shares a band). A fixture
        // change adding a pair just above 0.8 that straddles every band
        // would surface as a count mismatch HERE, not a code bug.
        val s4 = Dedup.dropNearDuplicates(s3, Dedup.minhashLshPairs(s3))
          .localCheckpoint(true) // same plan-size rationale as s3
        val contaminated = TextAnalysis.contaminationReport(s4, evalSet)
          .select(col("doc_id"))
        val s5 = s4.join(contaminated, Seq("doc_id"), "left_anti")
        def stage(name: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n_docs"),
              coalesce(sum(size(TextAnalysis.tokens(col("text")))), lit(0))
                .cast("long").as("n_tokens"))
            .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
        stage("1_raw", corpus)
          .unionAll(stage("2_quality", s2))
          .unionAll(stage("3_exact_dedup", s3))
          .unionAll(stage("4_neardup_drop", s4))
          .unionAll(stage("5_decontaminated", s5))
      },
      Some("""WITH base AS (SELECT doc_id, text,
        |    CASE WHEN length(text) = 0 THEN [] ELSE string_split(text, ' ') END AS toks
        |  FROM documents),
        |corpus AS (SELECT * FROM base WHERE doc_id % 23 != 0),
        |s2 AS MATERIALIZED (SELECT * FROM corpus
        |  WHERE len(toks) >= 20 AND len(toks) <= 5000
        |    AND len(list_distinct(toks)) * 1000 >= 300 * len(toks)),
        |reps AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
        |s3 AS MATERIALIZED (SELECT * FROM s2 WHERE doc_id IN (SELECT doc_id FROM reps)),
        |u AS (SELECT doc_id, toks AS t, unnest(range(1, len(toks) - 1)) AS i
        |  FROM s3 WHERE len(toks) >= 3),
        |sh AS (SELECT DISTINCT doc_id, CAST(len(t[i]) AS VARCHAR) || ':' || t[i] || CAST(len(t[i+1]) AS VARCHAR) || ':' || t[i+1] || CAST(len(t[i+2]) AS VARCHAR) || ':' || t[i+2] AS s FROM u),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
        |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |dups AS (SELECT DISTINCT doc_b FROM prs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |  WHERE common * 1000 >= 800 * (ca.n_sh + cb.n_sh - common)),
        |s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_b FROM dups)),
        |ev AS (SELECT doc_id, toks AS t FROM base WHERE doc_id % 23 = 0),
        |u4 AS (SELECT doc_id, toks AS t, unnest(range(1, len(toks) - 11)) AS i
        |  FROM s4 WHERE len(toks) >= 13),
        |g4 AS (SELECT DISTINCT doc_id, array_to_string(list_transform(t[CAST(i AS INT):CAST(i+12 AS INT)], x -> CAST(len(x) AS VARCHAR) || ':' || x), '') AS g FROM u4),
        |ue AS (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i FROM ev WHERE len(t) >= 13),
        |ge AS (SELECT DISTINCT array_to_string(list_transform(t[CAST(i AS INT):CAST(i+12 AS INT)], x -> CAST(len(x) AS VARCHAR) || ':' || x), '') AS g FROM ue),
        |cont AS (SELECT DISTINCT doc_id FROM g4 WHERE g IN (SELECT g FROM ge)),
        |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM cont))
        |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n_tokens FROM corpus
        |UNION ALL SELECT '2_quality', count(*), CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM s2
        |UNION ALL SELECT '3_exact_dedup', count(*), CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM s3
        |UNION ALL SELECT '4_neardup_drop', count(*), CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM s4
        |UNION ALL SELECT '5_decontaminated', count(*), CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM s5""".stripMargin)
    )),

    // Estimator audit for the minhash pipeline: signature-agreement
    // estimates vs exact Jaccard on every verified pair. The xxhash
    // signatures aren't DuckDB-expressible, so the entry materializes
    // its contract as verdict rows (the dedup_simhash pattern):
    // pairs_scored is independently countable by the oracle; the 250‰
    // error band is 5σ of the binomial estimator at n = 64, so
    // violations = 0 fails only if the signature kernel is broken, at
    // any scale factor.
    "dedup_minhash_est_error" -> ((
      (s: SparkSession, dir: String) => {
        // ORACLE CONTRACT: pairs_scored counts LSH-banded candidates; the
        // oracle counts the exhaustive qualifying pairs — equal iff the
        // banding drops no qualifying pair on the fixture (currently
        // true). A fixture change can break this count without any code
        // regression; see pipeline_funnel_report stage 4 for the same
        // declared zero-false-negative assumption.
        val scored = Dedup.minhashEstimateError(docs(s, dir))
          .eagerPersisted
        val n = scored.agg(count(lit(1)).as("value"))
          .select(lit("pairs_scored").as("metric"), col("value").cast("long").as("value"))
        val viol = scored
          .filter(abs(col("est_x1000") - col("jaccard_x1000")) > 250)
          .agg(count(lit(1)).as("value"))
          .select(lit("err_band_violations").as("metric"), col("value").cast("long").as("value"))
        n.unionAll(viol)
      },
      Some(s"""WITH ${OracleSql.shinglePairs("pairs")},
        |jp AS (SELECT doc_a FROM pairs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common))
        |SELECT 'pairs_scored' AS metric, CAST(count(*) AS BIGINT) AS value FROM jp
        |UNION ALL SELECT 'err_band_violations', CAST(0 AS BIGINT)""".stripMargin)
    )),

    // SimHash near-dup pairs (hamming ≤ 3 via 16-bit banding). The
    // xxhash64-chained fingerprints aren't DuckDB-expressible, so the query
    // materializes its LINEAR-cost contract as verdict rows:
    // docs_fingerprinted is independently countable by DuckDB (every
    // non-empty text fingerprints) and every banded pair must be emitted
    // in canonical doc_a < doc_b order. The brute-force recall/precision
    // witness (all-pairs over the fingerprint bank — quadratic) lives in
    // the DECLARED twin `dedup_simhash_witness`, benched apart.
    "dedup_simhash" -> ((
      (s: SparkSession, dir: String) => {
        val fp = Dedup.simhashFingerprints(docs(s, dir))
          .eagerPersisted
        val banded = Dedup.simhashPairsFromFp(fp, maxHamming = 3)
          .select("doc_a", "doc_b")
        val fingerprinted = fp.agg(count(lit(1)).as("value"))
          .select(lit("docs_fingerprinted").as("metric"), col("value").cast("long").as("value"))
        val canonical = banded.filter(!(col("doc_a") < col("doc_b")))
          .agg(count(lit(1)).as("value"))
          .select(lit("noncanonical_pairs").as("metric"), col("value").cast("long").as("value"))
        fingerprinted.unionAll(canonical)
      },
      Some("""SELECT 'docs_fingerprinted' AS metric,
        |  CAST((SELECT count(*) FROM documents WHERE length(text) > 0) AS BIGINT) AS value
        |UNION ALL SELECT 'noncanonical_pairs', CAST(0 AS BIGINT)""".stripMargin)
    )),

    // DECLARED brute-force witness twin of dedup_simhash (the
    // stream_embedding_dedup_recall pattern): all-pairs hamming over the
    // fingerprint bank — quadratic by design, it GATES the banded path.
    // recall_violations = brute hamming≤3 pairs EXCEPT banded pairs —
    // mathematically 0, since ≤3 differing bits can touch at most 3 of
    // the 4 16-bit chunks, so one chunk always matches (pigeonhole; the
    // r13 maxBucket hot-chunk cap conditions this on "no chunk value
    // shared by >1000 docs", true at every fixture SF — this witness is
    // what notices if that ever stops holding);
    // precision_violations = banded pairs EXCEPT brute — 0 because
    // candidates are hamming-verified before emission.
    "dedup_simhash_witness" -> ((
      (s: SparkSession, dir: String) => {
        val fp = Dedup.simhashFingerprints(docs(s, dir))
          .eagerPersisted
        val banded = Dedup.simhashPairsFromFp(fp, maxHamming = 3)
          .select("doc_a", "doc_b")
        val brute = Dedup.simhashBrutePairs(fp, maxHamming = 3)
          .select("doc_a", "doc_b")
        val missed = brute.join(banded, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("recall_violations").as("metric"), col("value").cast("long").as("value"))
        val extra = banded.join(brute, Seq("doc_a", "doc_b"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("precision_violations").as("metric"), col("value").cast("long").as("value"))
        missed.unionAll(extra)
      },
      Some("""SELECT 'recall_violations' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'precision_violations', CAST(0 AS BIGINT)""".stripMargin)
    )),

    // Exact embedding near-dup pairs by cosine ≥ 0.45.
    "dedup_embedding_cosine" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.embeddingCosinePairs(emb(s, dir), threshold = 0.45),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.45""".stripMargin)
    )),

    // Hyperplane-LSH bucketed variant. Recall < 1 by design, so pair-set
    // equality with the brute-force oracle can't hold; the production
    // entry materializes the structural contract (canonical id_a < id_b
    // order; every pair id exists in the corpus), while the quadratic
    // precision/recall witness against the exact pair set lives in the
    // DECLARED twin `dedup_embedding_lsh_witness`, benched apart (the
    // r10-verdict discipline: a brute cross stage must never ride a
    // production plan). Banding 6×20 is PICKED FROM LSH THEORY for this
    // entry's τ = 0.45 (per-band true-pair match (1−arccos τ/π)^6 ≈ 0.075,
    // recall ≈ 1−(1−0.075)^20 ≈ 0.79 over 20 bands) — at so low a τ,
    // candidate volume is necessarily a constant fraction of all pairs
    // (the ρ ≈ 0.625 LSH bound; r12 verdict), so the linear-at-scale
    // guarantee here is the maxBucket hot-bucket cap inside
    // embeddingLshPairs (candidates ≤ bands·maxBucket·n), and the
    // preferred 100 TB path for low-τ semantic grouping is dedup_semantic.
    // High-similarity near-dup (τ ≳ 0.9) uses the 16×8 default banding,
    // whose 65,536-value buckets ARE sub-quadratic (ScaleSpec asserts the
    // candidate volume on a planted random corpus).
    "dedup_embedding_lsh" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val lsh = Dedup.embeddingLshPairs(e, dim = 64, threshold = 0.45,
            rowsPerBand = 6, bands = 20)
          .eagerPersisted
        val canonical = lsh.filter(!(col("id_a") < col("id_b")))
          .agg(count(lit(1)).as("value"))
          .select(lit("noncanonical_pairs").as("metric"), col("value").cast("long").as("value"))
        val ids = lsh.select(col("id_a").as("vec_id"))
          .unionAll(lsh.select(col("id_b").as("vec_id")))
        val inCorpus = ids.join(e.select("vec_id"), Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("pair_ids_outside_corpus").as("metric"),
            col("value").cast("long").as("value"))
        canonical.unionAll(inCorpus)
      },
      Some("""SELECT 'noncanonical_pairs' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'pair_ids_outside_corpus', CAST(0 AS BIGINT)""".stripMargin)
    )),

    // DECLARED brute-force witness twin of dedup_embedding_lsh: LSH pairs
    // minus exact-cosine pairs must be empty (precision is absolute —
    // candidates are verified with exact cosine before emission), and
    // recall must clear the floor DedupSpec asserts. Quadratic by design
    // (the exact pair set IS all-pairs); benched apart under
    // Bench.oracleTwins.
    "dedup_embedding_lsh_witness" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val lsh = Dedup.embeddingLshPairs(e, dim = 64, threshold = 0.45,
          rowsPerBand = 6, bands = 20)
        val brute = Dedup.embeddingCosinePairs(e, threshold = 0.45)
        val violations = lsh.join(brute, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("precision_violations").as("metric"), col("value").cast("long").as("value"))
        val recall = lsh.agg(count(lit(1)).as("f"))
          .crossJoin(brute.agg(count(lit(1)).as("t")))
          .select(lit("recall_floor_50_met").as("metric"),
            (col("f") * 100 >= col("t") * 50).cast("long").as("value"))
        violations.unionAll(recall)
      },
      Some("""SELECT 'precision_violations' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'recall_floor_50_met', CAST(1 AS BIGINT)""".stripMargin)
    )),

    // The wide-band DEFAULT banding (8 bands × 16 rows, 65,536-value
    // buckets + maxBucket cap — r13's fix for the r12 Θ(n²) finding) in
    // its HOME regime, oracle-exercised: high-similarity near-dup. The
    // fixture has no high-cosine pairs, so the entry plants them
    // deterministically — every 5th vector gains a ×1.001-scaled copy
    // (cosine exactly 1 up to float rounding; positive scaling preserves
    // every hyperplane sign, so banding recall on the planted pairs is
    // structurally 1, not probabilistic). Contracts: zero planted pairs
    // missed; zero extra pairs (nothing else in the corpus reaches
    // τ = 0.99, and every emitted pair is cosine-verified); and the
    // SELECTIVITY row — band-bucket candidate pairs under 1% of all
    // pairs — which the old 16-value banding (≈ half of all pairs) fails
    // by two orders of magnitude. DuckDB independently counts the
    // planted set; the verdict constants pin the rest.
    "dedup_embedding_lsh_wide" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        val copies = e.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + lit(10000000L)).as("vec_id"),
            transform(col("embedding"),
              x => (x * lit(1.001)).cast("float")).as("embedding"))
        val all = e.unionAll(copies)
          .eagerPersisted
        val lsh = Dedup.embeddingLshPairs(all, dim = 64, threshold = 0.99)
          .eagerPersisted
        val planted = e.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("id_a"),
            (col("vec_id") + lit(10000000L)).as("id_b"))
          .eagerPersisted
        val nPlanted = planted.agg(count(lit(1)).as("value"))
          .select(lit("planted_pairs").as("metric"), col("value").cast("long").as("value"))
        val missed = planted.join(lsh, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("planted_pairs_missed").as("metric"),
            col("value").cast("long").as("value"))
        val extra = lsh.join(planted, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("extra_pairs").as("metric"), col("value").cast("long").as("value"))
        val buckets = Dedup.hyperplaneBuckets(all, "vec_id", dim = 64,
          rowsPerBand = 16, bands = 8, maxBucket = 1000)
        val selectivity = buckets.as("a")
          .join(buckets.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib")).distinct()
          .agg(count(lit(1)).as("cand"))
          .crossJoin(all.agg(count(lit(1)).as("n")))
          .select(lit("candidates_below_1pct_of_pairs").as("metric"),
            (col("cand") * 200 < col("n") * (col("n") - 1)).cast("long").as("value"))
        nPlanted.unionAll(missed).unionAll(extra).unionAll(selectivity)
      },
      Some("""SELECT 'planted_pairs' AS metric,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0) AS BIGINT) AS value
        |UNION ALL SELECT 'planted_pairs_missed', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'extra_pairs', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'candidates_below_1pct_of_pairs', CAST(1 AS BIGINT)""".stripMargin)
    )),

    // Transitive SEMANTIC clusters: connected components over the exact
    // cosine pair graph — the embedding-space analog of dedup_clusters
    // (paraphrase/translation groups instead of shingle-overlap groups).
    // Same two-phase large-star/small-star CC, same recursive-CTE oracle
    // shape, pair predicate = list_cosine_similarity ≥ 0.45.
    "dedup_embedding_clusters" -> ((
      (s: SparkSession, dir: String) => {
        val pairs = Dedup.embeddingCosinePairs(emb(s, dir), threshold = 0.45)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        Dedup.connectedComponents(pairs)
          .select(col("doc_id").as("vec_id"),
            col("cluster_id").cast("long").as("cluster_id"))
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |np AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id
        |       WHERE list_cosine_similarity(a.v, b.v) >= 0.45),
        |edges AS (SELECT ia AS a, ib AS b FROM np UNION SELECT ib, ia FROM np),
        |reach AS (
        |  SELECT a AS node, b AS r FROM edges
        |  UNION
        |  SELECT reach.node, e2.b FROM reach JOIN edges e2 ON reach.r = e2.a)
        |SELECT node AS vec_id, least(node, min(r)) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin)
    )),

    // Bounded-candidate semantic clusters: CC over the hyperplane-LSH
    // pair graph (no all-pairs stage in the production plan; same
    // theory-picked 6×20 banding + maxBucket cap as dedup_embedding_lsh —
    // the cap, not the 64-value bucket domain, is the linear-at-scale
    // bound at this τ, and dedup_semantic is the preferred low-τ 100 TB
    // path). LSH recall
    // < 1 by design, so label equality with the exact clusters can't hold;
    // instead the entry materializes the structural contract: LSH pairs
    // are cosine-verified (⊆ exact pairs), therefore every LSH cluster
    // must sit INSIDE one exact cluster — refinement_violations counts
    // LSH clusters spanning two exact components (0 by that argument, and
    // any CC bug that glues unrelated vectors breaks it). Coverage clears
    // a floor, and exact_clustered_vectors is recomputed independently by
    // the oracle's recursive CTE — a cross-engine check of the CC itself.
    "dedup_embedding_clusters_lsh" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val tau = 0.45
        // the two CC fixpoint loops are INDEPENDENT and barrier-dominated
        // (a job + localCheckpoint per star round) — overlap them from
        // driver threads (guide §2.6, QueryUtil.inParallel) so the entry
        // pays ~max of the two walls, not their sum
        val (lshLabels, exactLabels) = QueryUtil.inParallel(
          Dedup.connectedComponents(
              Dedup.embeddingLshPairs(e, dim = 64, tau,
                rowsPerBand = 6, bands = 20)
                .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
            .select(col("doc_id").as("vec_id"), col("cluster_id").as("lc"))
            .eagerPersisted,
          Dedup.connectedComponents(
              Dedup.embeddingCosinePairs(e, tau)
                .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
            .select(col("doc_id").as("vec_id"), col("cluster_id").as("xc"))
            .eagerPersisted)
        val refinement = lshLabels.join(exactLabels, Seq("vec_id"), "left")
          .groupBy("lc").agg(countDistinct(col("xc")).as("nx"),
            count(when(col("xc").isNull, 1)).as("missing"))
          .agg(sum(when(col("nx") > 1, 1).otherwise(0) + col("missing")).as("value"))
          .select(lit("refinement_violations").as("metric"),
            coalesce(col("value"), lit(0)).cast("long").as("value"))
        val exactCount = exactLabels.agg(count(lit(1)).as("value"))
          .select(lit("exact_clustered_vectors").as("metric"),
            col("value").cast("long").as("value"))
        val coverage = lshLabels.agg(count(lit(1)).as("f"))
          .crossJoin(exactLabels.agg(count(lit(1)).as("t")))
          .select(lit("coverage_floor_50_met").as("metric"),
            (col("f") * 100 >= col("t") * 50).cast("long").as("value"))
        exactCount.unionAll(refinement).unionAll(coverage)
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |np AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id
        |       WHERE list_cosine_similarity(a.v, b.v) >= 0.45),
        |edges AS (SELECT ia AS a, ib AS b FROM np UNION SELECT ib, ia FROM np),
        |reach AS (
        |  SELECT a AS node, b AS r FROM edges
        |  UNION
        |  SELECT reach.node, e2.b FROM reach JOIN edges e2 ON reach.r = e2.a)
        |SELECT 'exact_clustered_vectors' AS metric,
        |  CAST((SELECT count(DISTINCT node) FROM reach) AS BIGINT) AS value
        |UNION ALL SELECT 'refinement_violations', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'coverage_floor_50_met', CAST(1 AS BIGINT)""".stripMargin)
    )),

    // The one-pass packed quantization record (native quantize_meta): the
    // per-vector ANN index row — codes packed to binary plus the
    // min/scale/code-sum/self-dot scalars. The oracle recomputes every
    // scalar from the same affine algebra (codes themselves are
    // hash-compared by vector_quantize_int8, which quantize_meta matches
    // byte-for-byte — asserted in OperatorsSpec).
    "vector_quantize_meta" -> ((
      (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        emb(s, dir)
          .select(col("vec_id"), call_function("quantize_meta", col("embedding")).as("qm"))
          .filter(col("qm").isNotNull)
          .select(col("vec_id"), round(col("qm.mn"), 6).as("mn"),
            round(col("qm.scale"), 8).as("scale"),
            col("qm.csum").as("csum"), col("qm.cdot").as("cdot"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
        |c AS (SELECT vec_id, mn, (mx - mn) AS rng,
        |  CASE WHEN mx = mn THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |       ELSE list_transform(v, x -> least(CAST(255 AS BIGINT),
        |              CAST(floor((x - mn) * 255 / (mx - mn)) AS BIGINT))) END AS codes
        |  FROM m)
        |SELECT vec_id, round(mn, 6) AS mn, round(rng / 255, 8) AS scale,
        |  CAST(list_sum(codes) AS BIGINT) AS csum,
        |  CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS cdot
        |FROM c""".stripMargin)
    )),

    // SemDeDup: embedding-level dedup bounded by KMeans cells instead of
    // all-pairs. The cluster assignment is data-dependent (not
    // SQL-reproducible), so the query materializes its correctness
    // contract as verdict rows — all CELL-BOUNDED or linear: the kept set
    // must contain NO in-cluster pair at cosine ≥ τ (re-checked by
    // re-running the drop rule on the survivors), and kept + dropped must
    // partition the corpus. The GLOBAL-witness check (every drop backed
    // by a brute-force cosine pair — quadratic) lives in the DECLARED
    // twin `dedup_semantic_witness`, benched apart.
    //
    // Scale contracts (r13 verdict item 1): the pair stage is ids-only
    // with a hot-cell cap — candidates ≤ cap·n/2 however KMeans
    // distributes the corpus; cluster count derives from the corpus by
    // default (⌈√n⌉ clamped) and is PINNED here to 16 for deterministic
    // replay. The `hot_cells_excluded` row makes the cap's engagement
    // oracle-visible: 0 on the fixtures (cells ≤ corpus ≤ derived cap),
    // so any future skew that engages the cap fails LOUDLY here instead
    // of silently shrinking recall; the cap's engagement behavior itself
    // is pinned by ScaleSpec's planted mega-cell (fixture-invisible by
    // design, like every banded family's cap).
    "dedup_semantic" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val tau = 0.45
        val assigned = Dedup.semanticAssignments(e, nClusters = 16)
          .eagerPersisted
        // plain (undeclared — corpus-scale) localCheckpoints, NOT persists:
        // the keptViolations leg re-expands its input ~10× (hot-cell agg +
        // ids self-join + two payload rejoins), and InMemoryTableScan
        // re-prints its cached plan at every reference — without the cuts
        // this entry's plan string crosses Spark's 262 KB print ceiling
        // (the r13 bench-tail truncation warnings)
        val dropped = Dedup.semanticDroppedIds(assigned, tau).localCheckpoint(true)
        val keptAssigned = assigned.join(
          dropped.withColumnRenamed("id_b", "vec_id"), Seq("vec_id"), "left_anti")
          .localCheckpoint(true)
        val total = e.agg(count(lit(1)).as("value"))
          .select(lit("total_vectors").as("metric"), col("value").cast("long").as("value"))
        val partitionOk = keptAssigned.agg(count(lit(1)).as("kc"))
          .crossJoin(dropped.agg(count(lit(1)).as("dc")))
          .crossJoin(e.agg(count(lit(1)).as("tc")))
          .select(lit("kept_plus_dropped_is_total").as("metric"),
            (col("kc") + col("dc") === col("tc")).cast("long").as("value"))
        val keptViolations = Dedup.semanticDroppedIds(keptAssigned, tau)
          .agg(count(lit(1)).as("value"))
          .select(lit("kept_pair_violations").as("metric"), col("value").cast("long").as("value"))
        val hotCells = Dedup.semanticHotCells(assigned)
          .agg(count(lit(1)).as("value"))
          .select(lit("hot_cells_excluded").as("metric"), col("value").cast("long").as("value"))
        total.unionAll(partitionOk).unionAll(keptViolations).unionAll(hotCells)
      },
      Some("""SELECT 'total_vectors' AS metric,
        |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS value
        |UNION ALL SELECT 'kept_plus_dropped_is_total', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'kept_pair_violations', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'hot_cells_excluded', CAST(0 AS BIGINT)""".stripMargin)
    )),

    // DECLARED brute-force witness twin of dedup_semantic: every dropped
    // vector must be witnessed by a GLOBAL cosine-≥-τ pair (cluster pairs
    // ⊆ brute-force pairs — checks the cosine filter, not just the
    // plumbing). The witness needs the exact all-pairs set, so it is
    // quadratic by design and benched apart under Bench.oracleTwins.
    "dedup_semantic_witness" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val tau = 0.45
        val assigned = Dedup.semanticAssignments(e, nClusters = 16)
          .eagerPersisted
        val dropped = Dedup.semanticDroppedIds(assigned, tau)
        dropped
          .join(Dedup.embeddingCosinePairs(e, tau).select("id_b").distinct(), Seq("id_b"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("drops_without_global_witness").as("metric"),
            col("value").cast("long").as("value"))
      },
      Some("""SELECT 'drops_without_global_witness' AS metric,
        |  CAST(0 AS BIGINT) AS value""".stripMargin)
    )),

    // Vector column statistics per label: L2-norm distribution — the
    // sanity profile a pipeline computes before indexing embeddings.
    "vector_stats" -> ((
      (s: SparkSession, dir: String) => {
        val norm = sqrt(aggregate(col("embedding"),
          lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
        emb(s, dir)
          .select(col("label").cast("long").as("label"), norm.as("n"))
          .groupBy("label")
          .agg(count(lit(1)).as("cnt"), round(min("n"), 4).as("min_norm"),
            round(max("n"), 4).as("max_norm"))
      },
      Some("""WITH n AS (SELECT CAST(label AS BIGINT) AS label,
        |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS n
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS cnt,
        |  round(min(n), 4) AS min_norm, round(max(n), 4) AS max_norm
        |FROM n GROUP BY label""".stripMargin)
    )),

    // Unit-normalization precompute: at scale you normalize once and every
    // pairwise cosine becomes a single dot product (O(pairs·dim) instead of
    // O(pairs·3·dim)). Exploded to scalar rows — float arrays don't
    // hash-compare — with round(6) shared by both engines.
    "vector_normalize" -> ((
      (s: SparkSession, dir: String) =>
        emb(s, dir)
          .select(col("vec_id"), graft.functions.Vectors.unit(col("embedding")).as("u"))
          .filter(col("u").isNotNull)
          .select(col("vec_id"), posexplode(col("u")).as(Seq("idx", "uval")))
          .select(col("vec_id"), col("idx").cast("long").as("idx"),
            round(col("uval"), 6).as("uval")),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx, round(v[i] / nrm, 6) AS uval
        |FROM n, unnest(range(1, len(v) + 1)) AS t(i)
        |WHERE nrm > 0""".stripMargin)
    )),

    // Embedding-space isotropy health check (the statistic behind ABTT —
    // vector_abtt_whiten is the FIX, this is the MEASUREMENT): the mean
    // pairwise cosine over ALL n² pairs, computed WITHOUT forming a single
    // pair via the Gram identity Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖². Unit
    // vectors quantize to integer micro-components first, so both sums are
    // exact integers (per-dimension partial aggregates — one narrow shuffle
    // keyed by dimension index, nothing pairwise, at any corpus size) and
    // the statistic is one rounded double expression. Anisotropic (trained)
    // embeddings sit far above 0 — the readout that decides whether to
    // apply the ABTT whitening before cosine retrieval.
    "vector_isotropy" -> ((
      (s: SparkSession, dir: String) => {
        val q = emb(s, dir)
          .select(graft.functions.Vectors.unit(col("embedding")).as("u"))
          .filter(col("u").isNotNull)
          .select(posexplode(col("u")).as(Seq("idx", "x")))
          .select(col("idx"), floor(lit(1e6) * col("x")).cast("long").as("q"))
        val dims = q.groupBy("idx").agg(sum("q").as("sd"),
          sum(col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)")).as("qq"))
        val nn = emb(s, dir)
          .select(graft.functions.Vectors.unit(col("embedding")).as("u"))
          .filter(col("u").isNotNull).agg(count(lit(1)).as("n"))
        val a = dims.agg(
          sum(col("sd").cast("decimal(19,0)") * col("sd").cast("decimal(19,0)")).as("ss"),
          sum("qq").as("sq"))
        a.crossJoin(broadcast(nn))
          .select(col("n"),
            round((col("ss").cast("double") - col("sq").cast("double"))
              / ((col("n").cast("double") * col("n") - col("n")) * lit(1e12)), 9)
              .as("avg_pairwise_cos"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nv AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |q AS (SELECT CAST(floor(1e6 * v[i] / nrm) AS BIGINT) AS q, i
        |  FROM nv, unnest(range(1, len(v) + 1)) AS t(i) WHERE nrm > 0),
        |dims AS (SELECT i, CAST(sum(q) AS BIGINT) AS sd,
        |    sum(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))) AS qq FROM q GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nv WHERE nrm > 0),
        |a AS (SELECT sum(CAST(sd AS DECIMAL(19,0)) * CAST(sd AS DECIMAL(19,0))) AS ss,
        |    CAST(sum(qq) AS DECIMAL(38,0)) AS sq FROM dims)
        |SELECT n, round((CAST(ss AS DOUBLE) - CAST(sq AS DOUBLE))
        |    / ((CAST(n AS DOUBLE) * n - n) * 1e12), 9) AS avg_pairwise_cos
        |FROM a CROSS JOIN n""".stripMargin)
    )),

    // Exact ANN: top-5 cosine neighbors for query vectors vec_id < 8.
    "ann_bruteforce_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.v, e.v) AS c
        |  FROM q JOIN e ON e.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin)
    )),

    // Exact max-inner-product top-5 (Similarity.mipsTopK) — the
    // recommendation/reward-model retrieval metric where norms carry
    // signal. Declared-bounded query set; the dot folds left-to-right in
    // double exactly as DuckDB's list_inner_product does, so the full
    // ranking replays. ScaleSpec proves the Bachrach augmentation route
    // (MIPS → cosine, reusing any cosine-ANN machinery unchanged)
    // reproduces these rankings — the scale path for this metric.
    "ann_mips_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.mipsTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |         list_inner_product(q.v, e.v) AS d
        |  FROM q JOIN e ON e.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin)
    )),

    // IVF index-health readout: cell-population balance of the pivot
    // quantizer — the number an operator checks BEFORE trusting any
    // nProbe recall figure, because a skewed quantizer silently turns
    // "probe 2 of 32 cells" into "probe half the corpus" (hot cell) or
    // "probe almost nothing" (starved cells). imbalance_x100 = 100 ×
    // max_cell / mean_cell, integer-floored; 100 = perfectly balanced.
    // One broadcast-pivot assignment + two tiny aggregates; the same
    // deterministic lowest-id pivots as the index/probe entries, so the
    // whole readout replays exactly in SQL.
    "ann_ivf_imbalance" -> ((
      (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        val e = emb(s, dir)
        val pivots = broadcast(e.orderBy("vec_id").limit(32)
          .select(col("vec_id").as("pid"), col("embedding").as("p_emb")))
        val pw = Window.partitionBy("vec_id").orderBy(col("pcos").desc, col("pid").asc)
        val cells = e.crossJoin(pivots)
          .select(col("vec_id"), col("pid"),
            call_function("cosine_sim", col("embedding"), col("p_emb")).as("pcos"))
          .withColumn("pr", row_number().over(pw)).filter(col("pr") === 1)
          .groupBy("pid").agg(count(lit(1)).as("cnt"))
        cells.agg(count(lit(1)).as("n_cells"), sum("cnt").as("n_vectors"),
            max("cnt").as("max_cell"), min("cnt").as("min_cell"))
          .select(col("n_cells"), col("n_vectors").cast("long").as("n_vectors"),
            col("max_cell"), col("min_cell"),
            expr("max_cell * 100 * n_cells div n_vectors").as("imbalance_x100"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS pid, v AS pv FROM e ORDER BY vec_id LIMIT 32),
        |r AS (SELECT e.vec_id, p.pid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, p.pv) DESC, p.pid) AS pr
        |  FROM e CROSS JOIN p QUALIFY pr = 1),
        |cells AS (SELECT pid, CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(cnt) AS BIGINT) AS n_vectors,
        |  CAST(max(cnt) AS BIGINT) AS max_cell,
        |  CAST(min(cnt) AS BIGINT) AS min_cell,
        |  CAST(max(cnt) * 100 * count(*) // sum(cnt) AS BIGINT) AS imbalance_x100
        |FROM cells""".stripMargin)
    )),

    // Filtered vector search (Similarity.filteredTopK): top-5 neighbors
    // constrained by a metadata predicate — here cross-label retrieval
    // (corpus label ≠ query label, the "show me near-dups from OTHER
    // sources" shape). The predicate rides the scoring join, pruning
    // ineligible rows BEFORE any distance math; the exact ranking
    // replays in SQL.
    "ann_filtered_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.filteredTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5,
            cond = col("q.label") =!= col("c.label"))
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |         list_cosine_similarity(q.v, e.v) AS c
        |  FROM q JOIN e ON e.vec_id <> q.vec_id AND e.label <> q.label)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin)
    )),

    // The ANN index AS A TABLE LAYOUT: cell assignments written to
    // parquet PARTITIONED BY cluster, then the probe join reads back
    // only the probed cells' files — Spark's dynamic partition pruning
    // fires off the broadcast probe side (PlanSpec asserts the pruning
    // subquery in the scan), so at 100 TB a 2-of-32-cell probe touches
    // ~1/16 of the index bytes ON DISK, not post-scan. Deterministic
    // pivot quantizer → the whole ranking replays in SQL; output equals
    // in-memory cell probing at nProbe = 2, which is exactly what the
    // oracle computes.
    "ann_index_partitioned" -> ((
      (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        val e = emb(s, dir)
        val pivots = broadcast(e.orderBy("vec_id").limit(32)
          .select(col("vec_id").as("pid"), col("embedding").as("p_emb")))
        val pw = Window.partitionBy("vec_id").orderBy(col("pcos").desc, col("pid").asc)
        val ranked = e.crossJoin(pivots)
          .select(col("vec_id"), col("embedding"), col("pid"),
            call_function("cosine_sim", col("embedding"), col("p_emb")).as("pcos"))
          .withColumn("pr", row_number().over(pw))
          .filter(col("pr") <= 2)
          .eagerPersisted
        // per-JVM scratch path (shutdown-hook cleaned): concurrent JVMs
        // (bench + gate, parallel test forks) never overwrite each
        // other's index, and session recycling inside one JVM reuses
        // ONE directory instead of leaking one per recycle block
        val out = graft.tools.TmpDirs.path("ann-index")
        ranked.filter(col("pr") === 1)
          .select(col("vec_id"), col("embedding"), col("pid").as("cluster"))
          // cluster the dynamic-partition write (r16, guide §6 / the p7
          // FileSink treatment): without it every upstream task writes a
          // sliver of every cluster directory — up to tasks × 32 small
          // files whose open/footer overhead the probe read-back then
          // pays. Hash maps one cluster to one task → exactly 32 files.
          .repartition(col("cluster"))
          .write.mode("overwrite").partitionBy("cluster").parquet(out)
        // 2 probe cells per query → 16 rows, NOT 8: no limit here (the
        // subtree is already bounded in-plan by the 32-pivot limit above)
        val probes = ranked.filter(col("vec_id") < 8)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            col("pid").as("cluster"))
        val index = s.read.parquet(out)
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
        index.join(broadcast(probes), Seq("cluster"))
          .filter(col("query_id") =!= col("vec_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            call_function("cosine_sim", col("q_emb"), col("embedding")).as("cos"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS pid, v AS pv FROM e ORDER BY vec_id LIMIT 32),
        |r AS MATERIALIZED (
        |  SELECT e.vec_id, p.pid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, p.pv) DESC, p.pid) AS pr
        |  FROM e CROSS JOIN p QUALIFY pr <= 2),
        |cell AS (SELECT r.vec_id AS neighbor_id, e.v AS nv, r.pid AS cluster
        |  FROM r JOIN e ON e.vec_id = r.vec_id WHERE r.pr = 1),
        |probes AS (SELECT r.vec_id AS query_id, e.v AS qv, r.pid AS cluster
        |  FROM r JOIN e ON e.vec_id = r.vec_id WHERE r.vec_id < 8),
        |scored AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qv, nv) AS cos
        |  FROM probes JOIN cell USING (cluster)
        |  WHERE query_id <> neighbor_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin)
    )),

    // MMR diversification (Carbonell & Goldstein): greedy re-ranking
    // that balances relevance against redundancy — score = 0.7·rel −
    // 0.3·max cos(d, already-picked) — the answer to "my top-5 are five
    // near-duplicates". Three greedy picks unrolled over the exact
    // top-8 candidate set; every pick is an argmax over deterministic
    // double chains with id tie-breaks, so the SELECTION AND its
    // floored-micro scores replay exactly in SQL. Bounded per query:
    // each round joins ≤ 8 candidate rows to ≤ 2 picked embeddings.
    "q_mmr_diversify" -> ((
      (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        val e = emb(s, dir)
        val nq = 4 // single source of the query bound AND the pick limits below
        val q = e.filter(col("vec_id") < nq).limit(nq)
        val cand = Similarity.bruteForceTopK(e, q, k = 8)
          .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
            Seq("neighbor_id"))
          .join(broadcast(q.select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb"))), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id").as("did"), col("c_emb"),
            call_function("cosine_sim", col("q_emb"), col("c_emb")).as("rel"))
          .eagerPersisted
        def argmax(df: DataFrame, score: Column): DataFrame = {
          val w = Window.partitionBy("query_id").orderBy(score.desc, col("did").asc)
          df.withColumn("score", score).withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("query_id"), col("did"), col("c_emb"), col("score"))
        }
        // the picks are ≤ 1 row per query (rn = 1 over 4 queries); the
        // no-op limit(nq) makes that cardinality assertion MACHINE-VISIBLE
        // to PlanAudit's boundedness walk (a window-rank filter alone is
        // not provably bounded), so the broadcast stays audit-clean
        val p1 = argmax(cand, col("rel") * lit(0.7))
        val c2 = cand.join(broadcast(p1.select(col("query_id"), col("did").as("p1d"),
            col("c_emb").as("p1e")).limit(nq)), "query_id")
          .filter(col("did") =!= col("p1d"))
          .withColumn("msim", call_function("cosine_sim", col("c_emb"), col("p1e")))
        val p2 = argmax(c2, col("rel") * lit(0.7) - col("msim") * lit(0.3))
        val c3 = c2.join(broadcast(p2.select(col("query_id"), col("did").as("p2d"),
            col("c_emb").as("p2e")).limit(nq)), "query_id")
          .filter(col("did") =!= col("p2d"))
          .withColumn("msim2",
            greatest(col("msim"), call_function("cosine_sim", col("c_emb"), col("p2e"))))
        val p3 = argmax(c3, col("rel") * lit(0.7) - col("msim2") * lit(0.3))
        Seq((p1, 1), (p2, 2), (p3, 3)).map { case (p, r) =>
          p.select(col("query_id"), lit(r.toLong).as("pick_rank"), col("did").as("doc_id"),
            floor(col("score") * lit(1e6)).cast("long").as("score_micro"))
        }.reduce(_ unionAll _)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cand AS (SELECT q.vec_id AS query_id, n.vec_id AS did,
        |    list_cosine_similarity(q.v, n.v) AS rel,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rk
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 4 QUALIFY rk <= 8),
        |p1 AS (SELECT query_id, did, 0.7 * rel AS score FROM (
        |    SELECT query_id, did, rel, row_number() OVER (PARTITION BY query_id
        |      ORDER BY 0.7 * rel DESC, did) AS rn FROM cand) WHERE rn = 1),
        |c2 AS (SELECT c.query_id, c.did, c.rel,
        |    list_cosine_similarity(ce.v, pe.v) AS msim
        |  FROM cand c JOIN p1 ON p1.query_id = c.query_id AND c.did <> p1.did
        |  JOIN e ce ON ce.vec_id = c.did JOIN e pe ON pe.vec_id = p1.did),
        |p2 AS (SELECT query_id, did, score FROM (
        |    SELECT query_id, did, 0.7 * rel - 0.3 * msim AS score,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY 0.7 * rel - 0.3 * msim DESC, did) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT c.query_id, c.did, c.rel,
        |    greatest(c.msim, list_cosine_similarity(ce.v, pe.v)) AS msim2
        |  FROM c2 c JOIN p2 ON p2.query_id = c.query_id AND c.did <> p2.did
        |  JOIN e ce ON ce.vec_id = c.did JOIN e pe ON pe.vec_id = p2.did),
        |p3 AS (SELECT query_id, did, score FROM (
        |    SELECT query_id, did, 0.7 * rel - 0.3 * msim2 AS score,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY 0.7 * rel - 0.3 * msim2 DESC, did) AS rn FROM c3) WHERE rn = 1)
        |SELECT query_id, CAST(1 AS BIGINT) AS pick_rank, did AS doc_id,
        |  CAST(floor(score * 1e6) AS BIGINT) AS score_micro FROM p1
        |UNION ALL SELECT query_id, 2, did, CAST(floor(score * 1e6) AS BIGINT) FROM p2
        |UNION ALL SELECT query_id, 3, did, CAST(floor(score * 1e6) AS BIGINT) FROM p3""".stripMargin)
    )),

    // Binary quantization ANN — the most aggressive tier of the
    // quantization ladder (int8 → PQ → RVQ → this): each 64-dim vector
    // collapses to ONE BIGINT of sign bits, candidate generation is
    // xor + popcount per pair (64 bytes → 8 bytes per corpus vector in
    // the scan — the memory-bandwidth play modern vector stores ship as
    // "BQ"), and the top-40 hamming candidates (8× oversampling — the
    // rescore multiple production BQ ships with) re-rank with exact
    // cosine to the final top-5. Sign bits and hamming are pure integer
    // algebra, so the ENTIRE ranking — candidates and re-rank — replays
    // in SQL. Bit 63 is set via the explicit min-long literal in both
    // engines (DuckDB's 1<<63 overflows).
    "ann_binary_hamming" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val sig = e
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
          .groupBy("vec_id")
          .agg(sum(when(col("x") > 0,
            when(col("idx") === 63, lit(Long.MinValue))
              .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))")))
            .otherwise(0L)).as("sig"))
        val q = sig.filter(col("vec_id") < 8).limit(8)
          .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
        val cand = sig.as("c").join(broadcast(q), col("query_id") =!= col("c.vec_id"))
          .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
            expr("CAST(bit_count(qsig ^ sig) AS BIGINT)").as("hamming"))
        val wc = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("neighbor_id").asc)
        val top = cand.withColumn("cr", row_number().over(wc)).filter(col("cr") <= 40)
          .select(col("query_id"), col("neighbor_id"), col("hamming"))
        val rescored = top
          .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
            Seq("neighbor_id"))
          .join(broadcast(e.filter(col("vec_id") < 8).limit(8)
            .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
            Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), col("hamming"),
            call_function("cosine_sim", col("q_emb"), col("c_emb")).as("cos"))
        val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
        rescored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
          .select(col("query_id"), col("neighbor_id"), col("hamming"),
            col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ux AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx, v[i] AS x
        |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
        |sig AS (SELECT vec_id,
        |    CAST(sum(CASE WHEN x > 0 AND idx = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |                  WHEN x > 0 THEN CAST(CAST(1 AS BIGINT) << CAST(idx AS INT) AS HUGEINT)
        |                  ELSE 0 END) AS BIGINT) AS sig
        |  FROM ux GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, sig AS qsig FROM sig WHERE vec_id < 8),
        |cand AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(qsig, c.sig)) AS BIGINT) AS hamming
        |  FROM sig c JOIN q ON q.query_id <> c.vec_id),
        |top AS (SELECT query_id, neighbor_id, hamming,
        |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS cr
        |  FROM cand QUALIFY cr <= 40),
        |rescored AS (SELECT t.query_id, t.neighbor_id, t.hamming,
        |    list_cosine_similarity(qe.v, ne.v) AS cos
        |  FROM top t JOIN e qe ON qe.vec_id = t.query_id
        |  JOIN e ne ON ne.vec_id = t.neighbor_id)
        |SELECT query_id, neighbor_id, hamming,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM rescored QUALIFY rnk <= 5""".stripMargin)
    )),

    // Hard-negative mining — the contrastive-training data op behind
    // every dense retriever (DPR/Contriever recipe): documents that
    // score HIGH lexically for a query but are NOT among its semantic
    // neighbors. Lexical top-10 (the ann_hybrid_bm25 BM25 leg) anti-
    // joined against dense cosine top-10, ranked by lexical strength,
    // top-3 per query. Both legs deterministic → the mined set replays
    // exactly in SQL.
    "q_hard_negatives" -> ((
      (s: SparkSession, dir: String) => {
        val lex = QueryUtil.bm25QueryScores(docs(s, dir), "lex")
        val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id"))
        val lexTop = lex.withColumn("lex_rank", row_number().over(wl))
          .filter(col("lex_rank") <= 10)
        val e = emb(s, dir)
        val dense = Similarity.bruteForceTopK(
            e, e.filter(pmod(col("vec_id"), lit(100)) === 0 &&
              col("vec_id") < 102400), k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"))
        val wh = Window.partitionBy("query_id").orderBy(col("lex_rank").asc, col("doc_id"))
        lexTop.join(dense, Seq("query_id", "doc_id"), "left_anti")
          .withColumn("hn_rank", row_number().over(wh))
          .filter(col("hn_rank") <= 3)
          .select(col("query_id"), col("doc_id"),
            col("lex_rank").cast("long").as("lex_rank"),
            col("hn_rank").cast("long").as("hn_rank"))
      },
      Some(s"""WITH ${OracleSql.bm25Lex("lex")},
        |lt AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY lex DESC, doc_id) AS lex_rank
        |  FROM lex QUALIFY lex_rank <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dt AS (SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS r
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id % 100 = 0 AND q.vec_id < 102400 QUALIFY r <= 10),
        |hn AS (SELECT lt.query_id, lt.doc_id, lt.lex_rank,
        |    row_number() OVER (PARTITION BY lt.query_id
        |      ORDER BY lt.lex_rank, lt.doc_id) AS hn_rank
        |  FROM lt LEFT JOIN dt ON dt.query_id = lt.query_id AND dt.doc_id = lt.doc_id
        |  WHERE dt.doc_id IS NULL QUALIFY hn_rank <= 3)
        |SELECT query_id, doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
        |  CAST(hn_rank AS BIGINT) AS hn_rank FROM hn""".stripMargin)
    )),

    // Team-draft interleaving (Radlinski et al.) — the ONLINE ranking
    // comparison primitive: merge the lexical (BM25) and dense (cosine)
    // rankings into one list by alternating drafts, each team picking
    // its best not-yet-drafted document; served clicks then credit
    // teams. The coin is FIXED (lexical drafts first every round) so
    // the drafted list is deterministic and replays exactly in SQL —
    // production randomizes the coin per query; the draft mechanics,
    // dedup-across-teams, and credit attribution are identical. The six
    // dependent argmin steps resolve inside one flatMapGroups per query
    // (candidate pool ≤ 10 rows — see interleaveDraft).
    "q_interleave_teamdraft" -> ((
      (s: SparkSession, dir: String) => interleaveDraft(s, dir),
      Some(teamDraftOracle("SELECT query_id, doc_id, pos, team FROM pk6"))
    )),

    // The interleaving CREDIT readout under a deterministic click model
    // (the user clicks the truly-most-similar drafted document — exact
    // cosine against the query): the clicked doc's team wins the query,
    // and the per-team win counts are the A/B verdict interleaving
    // exists to produce. The cosine click model structurally favors the
    // dense team — which is the point: the readout shows the draft +
    // credit machinery turning a click stream into a ranker comparison,
    // end-to-end replayable.
    "q_interleave_winrate" -> ((
      (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        val e = emb(s, dir)
        // plain (undeclared — query-set-proportional) localCheckpoint: the
        // final plan sits just under the 250 KB CI ceiling, but AQE's
        // RUNTIME re-renders annotate the cached BM25+draft lineage with
        // statistics and crossed Spark's 262 KB print ceiling on every
        // bench pass (the r13 tail's truncation warnings, hunted in r14).
        // The draft plan itself stays fully gate-visible through the
        // sibling q_interleave_teamdraft entry, which runs the identical
        // lineage uncut; this entry is the credit READOUT on top of it.
        val drafted = interleaveDraft(s, dir).localCheckpoint(true)
        val w = Window.partitionBy("query_id").orderBy(col("cs").desc, col("doc_id").asc)
        // no hint: hinting e (corpus-proportional) would force a 100 TB
        // broadcast; the drafted relation is the small side and AQE
        // broadcasts IT into both embedding lookups
        val clicked = drafted
          .join(e.select(col("vec_id").as("doc_id"), col("embedding").as("d_emb")), "doc_id")
          .join(e.select(col("vec_id").as("query_id"),
            col("embedding").as("q_emb")), "query_id")
          .select(col("query_id"), col("doc_id"), col("team"),
            call_function("cosine_sim", col("q_emb"), col("d_emb")).as("cs"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          // read twice (distinct-query count + per-team wins): a plain
          // cache keeps the BM25 + draft lineage single-execution without
          // the plan-string blowup the old localCheckpoint papered over
          // (r12 ADVICE); caller-must-clear-cache, the catalog contract.
          // LAZY, not eagerPersisted (r16): this is a ≤ query-count-row
          // frame whose upstream is already checkpointed — the eager
          // fill's extra count() job costs more than the recompute it
          // prevents (the q_bootstrap_ci lesson, r15 verdict item 7)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = clicked.agg(countDistinct("query_id").as("nq"))
        clicked.groupBy("team").agg(count(lit(1)).as("wins"))
          .crossJoin(broadcast(n))
          .select(col("team"), col("wins"), col("nq").as("n_queries"),
            expr("wins * 1000 div nq").as("win_pm"))
      },
      Some(teamDraftOracle(
        """clicked AS (SELECT query_id, team FROM (
          |  SELECT pk6.query_id, pk6.team,
          |    row_number() OVER (PARTITION BY pk6.query_id
          |      ORDER BY list_cosine_similarity(qe.v, de.v) DESC, pk6.doc_id) AS rn
          |  FROM pk6 JOIN e qe ON qe.vec_id = pk6.query_id
          |  JOIN e de ON de.vec_id = pk6.doc_id) WHERE rn = 1),
          |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM clicked)
          |SELECT team, CAST(count(*) AS BIGINT) AS wins, max(nq.nq) AS n_queries,
          |  CAST(count(*) * 1000 // max(nq.nq) AS BIGINT) AS win_pm
          |FROM clicked, nq GROUP BY team""".stripMargin, extraCte = true))
    )),
    // The nProbe TUNING CURVE — recall@5 of pivot-cell probing at
    // nProbe ∈ {1, 2, 4} against brute-force truth, per query: the table
    // an operator reads before fixing the probe budget at scale (recall
    // is monotone in nProbe by construction — probe sets nest, and any
    // true top-5 member reaching the candidate set survives the exact
    // re-rank). The pivot quantizer is deterministic (lowest-id pivots),
    // so the whole curve replays exactly in SQL — unlike a KMeans IVF,
    // this tuning table is oracle-checkable.
    "ann_probe_recall_curve" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val qids = e.filter(col("vec_id") < 8).limit(8).select(col("vec_id").as("query_id"))
        val brute = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5)
          .select(col("query_id"), col("neighbor_id"))
        Seq(1, 2, 4).map { p =>
          val hits = Similarity.knnGraphPivoted(e, k = 5, nPivots = 32, nProbe = p)
            .filter(col("query_id") < 8)
            .select(col("query_id"), col("neighbor_id"))
            .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
            .groupBy("query_id").agg(count(lit(1)).as("hits"))
          qids.join(hits, Seq("query_id"), "left")
            .select(lit(p.toLong).as("n_probe"), col("query_id"),
              (coalesce(col("hits"), lit(0L)) * 200).as("recall_pm"))
        }.reduce(_ unionAll _)
      },
      Some {
        val tiers = Seq(1, 2, 4).map { p =>
          s"""knn$p AS (
             |  SELECT probes.vec_id AS query_id, cell.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY probes.vec_id
             |      ORDER BY list_cosine_similarity(probes.v, cell.v) DESC, cell.vec_id) AS rnk
             |  FROM (SELECT e.vec_id, e.v, r.pid FROM e JOIN r ON r.vec_id = e.vec_id
             |        AND r.pr <= $p) probes
             |  JOIN (SELECT e.vec_id, e.v, r.pid FROM e JOIN r ON r.vec_id = e.vec_id
             |        AND r.pr = 1) cell
             |    ON cell.pid = probes.pid AND cell.vec_id <> probes.vec_id
             |  WHERE probes.vec_id < 8 QUALIFY rnk <= 5),
             |rec$p AS (SELECT q.query_id, CAST($p AS BIGINT) AS n_probe,
             |    200 * (SELECT count(*) FROM knn$p k
             |           JOIN bt ON bt.query_id = k.query_id
             |             AND bt.neighbor_id = k.neighbor_id
             |           WHERE k.query_id = q.query_id) AS recall_pm
             |  FROM (SELECT DISTINCT vec_id AS query_id FROM e WHERE vec_id < 8) q)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |p AS (SELECT vec_id AS pid, v AS pv FROM e ORDER BY vec_id LIMIT 32),
           |r AS MATERIALIZED (
           |  SELECT e.vec_id, p.pid,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_cosine_similarity(e.v, p.pv) DESC, p.pid) AS pr
           |  FROM e CROSS JOIN p QUALIFY pr <= 4),
           |bt AS MATERIALIZED (
           |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rnk
           |  FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 8
           |  QUALIFY rnk <= 5),
           |$tiers
           |SELECT n_probe, query_id, CAST(recall_pm AS BIGINT) AS recall_pm FROM rec1
           |UNION ALL SELECT n_probe, query_id, CAST(recall_pm AS BIGINT) FROM rec2
           |UNION ALL SELECT n_probe, query_id, CAST(recall_pm AS BIGINT) FROM rec4""".stripMargin
      }
    )),

    // Hybrid retrieval — the RAG-era flagship composition: BM25 lexical
    // top-10 (same integer-floored Okapi chain as text_bm25, query terms
    // = the query doc's distinct tokens) fused with dense cosine top-10
    // (doc_id = vec_id across the documents/embeddings tables) by
    // reciprocal-rank fusion. Both legs are deterministic, so the FUSED
    // ranking replays exactly in SQL — the end-to-end guarantee a
    // retrieval stack wants before it trusts either leg. Scale shape:
    // the idf table broadcasts, the lexical join fans out only on shared
    // terms, the dense leg broadcasts the query set, ranks fuse on
    // (query, doc) — nothing global.
    "ann_hybrid_bm25" -> ((
      (s: SparkSession, dir: String) => {
        val lex = QueryUtil.bm25QueryScores(docs(s, dir), "lex")
        val wl = Window.partitionBy("query_id").orderBy(col("lex").desc, col("doc_id"))
        val lexTop = lex.withColumn("r", row_number().over(wl))
          .filter(col("r") <= 10)
          .select(col("query_id"), col("doc_id"), col("r").cast("long").as("r"))
        val e = emb(s, dir)
        val dense = Similarity.bruteForceTopK(
            e, e.filter(pmod(col("vec_id"), lit(100)) === 0 &&
              col("vec_id") < 102400), k = 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("r"))
        val fused = lexTop.unionAll(dense)
          .select(col("query_id"), col("doc_id"),
            expr("1000000 div (60 + r)").as("c"))
          .groupBy("query_id", "doc_id").agg(sum("c").as("rrf"))
        val wf = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
        fused.withColumn("rnk", row_number().over(wf)).filter(col("rnk") <= 5)
          .select(col("query_id"), col("doc_id"),
            col("rnk").cast("long").as("rnk"), col("rrf"))
      },
      Some(s"""WITH ${OracleSql.bm25Lex("lex")},
        |lt AS (SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY lex DESC, doc_id) AS r
        |  FROM lex QUALIFY r <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dt AS (SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS r
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id % 100 = 0 AND q.vec_id < 102400 QUALIFY r <= 10),
        |allr AS (SELECT query_id, doc_id, r FROM lt
        |  UNION ALL SELECT query_id, doc_id, r FROM dt),
        |fused AS (SELECT query_id, doc_id,
        |    CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf
        |  FROM allr GROUP BY 1, 2)
        |SELECT query_id, doc_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
        |  rrf
        |FROM fused QUALIFY rnk <= 5""".stripMargin)
    )),

    // LSH-bucketed ANN. Ranks under approximate candidate generation can't
    // equal the brute-force ranking, so the query emits its correctness
    // contract: every query vector answered (DuckDB independently counts the
    // query set — real teeth), off-top-20 hits within the DedupSpec
    // tolerance (≤ 1/5 of hits), and — the index's reason to exist (r12
    // verdict item 5) — candidate selectivity: mean candidates per query
    // strictly under half the corpus, proving the 8×8 banding reads a
    // candidate SUBSET per query, not the corpus with extra steps (the old
    // 4-bit banding's ~n/2 candidates would fail this row).
    "ann_lsh_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 8).limit(8)
        val lsh = Similarity.lshTopK(e, queries, dim = 64, k = 5)
        val selectivity = Similarity.lshCandidates(e, queries, dim = 64)
          .agg(count(lit(1)).as("cand"))
          .crossJoin(e.agg(count(lit(1)).as("n")))
          .crossJoin(queries.agg(count(lit(1)).as("q")))
          .select(lit("candidate_fraction_below_half").as("metric"),
            (col("cand") * 2 < col("n") * col("q")).cast("long").as("value"))
        QueryUtil.annToleranceRows(lsh, e, queries).unionAll(selectivity)
      },
      Some(s"""${OracleSql.annTolerance}
        |UNION ALL SELECT 'candidate_fraction_below_half', CAST(1 AS BIGINT)""".stripMargin)
    )),

    // DECLARED brute-force witness twin of ann_lsh_topk: the measured
    // recall@5 floor, pinned ≥ 40% (r13 verdict item 7 — selectivity alone
    // let a re-banding trade recall for cheapness silently; the floor and
    // ann_lsh_topk's candidate-fraction ceiling move in opposite
    // directions, so a banding change must defend BOTH). It lives HERE,
    // benched apart under Bench.oracleTwins (r14 verdict item 2): the
    // floor needs the exact brute-force top-5, so it pays the brute pass
    // by design while the production entry stays at its banded cost.
    // Measured at the 8×8 multi-probe banding: 47.5% / 60% / 80% at
    // sf0.001/0.01/0.1 (recall GROWS with corpus density — more
    // same-bucket witnesses per true neighbor), so 40% holds at every
    // fixture while a recall collapse (e.g. re-banding to 16-row bands,
    // whose per-band match probability at these cosines is ~50× lower)
    // fails loudly.
    "ann_lsh_recall_witness" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 8).limit(8)
        val lsh = Similarity.lshTopK(e, queries, dim = 64, k = 5)
        val truth5 = Similarity.bruteForceTopK(e, queries, k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .eagerPersisted
        lsh.join(truth5, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hit"))
          .crossJoin(truth5.agg(count(lit(1)).as("tot")))
          .select(lit("recall_at5_above_floor").as("metric"),
            (col("hit") * 100 >= col("tot") * 40).cast("long").as("value"))
      },
      Some("""SELECT 'recall_at5_above_floor' AS metric,
        |  CAST(1 AS BIGINT) AS value""".stripMargin)
    )),

    // Quantized-scoring ANN: int8 codes rank candidates (4× less scan
    // bandwidth at corpus scale), exact cosine re-ranks the top-4k. Same
    // self-verifying contract as ann_lsh_topk; quantization error is a
    // fraction of the inter-neighbor gaps on the fixture, so hits stay
    // within the brute-force top-20 tolerance.
    "ann_quantized_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 8).limit(8)
        val qz = Similarity.quantizedTopK(e, queries, k = 5)
        QueryUtil.annToleranceRows(qz, e, queries)
      },
      Some(OracleSql.annTolerance)
    )),

    // IVF × quantized scoring (the FAISS IVF-ADC shape): cells bound WHICH
    // vectors are scored, int8 codes bound WHAT the scoring reads, exact
    // cosine re-ranks. Same self-verifying contract as the other ANN
    // entries.
    "ann_ivf_quantized_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 8).limit(8)
        val ivfq = Similarity.ivfQuantizedTopK(e, queries, k = 5)
        QueryUtil.annToleranceRows(ivfq, e, queries)
      },
      Some(OracleSql.annTolerance)
    )),

    // IVF ANN over KMeans cells — same self-verifying contract as
    // ann_lsh_topk (the quantizer is data-dependent, so rankings can't be
    // reproduced in SQL; the properties can be checked).
    "ann_ivf_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 8).limit(8)
        val ivf = Similarity.ivfTopK(e, queries, k = 5)
        QueryUtil.annToleranceRows(ivf, e, queries)
      },
      Some(OracleSql.annTolerance)
    )),

    "text_token_stats" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.tokenStats(docs(s, dir)).select(
          col("doc_id"), col("char_len").cast("long").as("char_len"),
          col("token_cnt").cast("long").as("token_cnt"),
          col("uniq_token_cnt").cast("long").as("uniq_token_cnt"),
          col("max_token_len").cast("long").as("max_token_len")),
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS char_len,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS token_cnt,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(list_distinct(string_split(text, ' '))) END AS BIGINT) AS uniq_token_cnt,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE list_max(list_transform(string_split(text, ' '), w -> length(w))) END AS BIGINT) AS max_token_len
        |FROM documents""".stripMargin)
    )),

    "text_quality" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.qualitySignals(docs(s, dir)).select(
          col("doc_id"), col("stopword_cnt").cast("long").as("stopword_cnt"),
          col("longword_cnt").cast("long").as("longword_cnt"), col("uniq_x1000")),
      Some("""WITH t AS (SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN [] ELSE string_split(text, ' ') END AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','it'], w))) AS BIGINT) AS stopword_cnt,
        |  CAST(len(list_filter(toks, w -> length(w) > 5)) AS BIGINT) AS longword_cnt,
        |  CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE len(list_distinct(toks)) * 1000 // len(toks) END AS BIGINT) AS uniq_x1000
        |FROM t""".stripMargin)
    )),

    // Quality-classifier INFERENCE (CCNet/fastText-shape linear scoring
    // over the interpretable Gopher/C4 signal family): logit = w·x on
    // integer per-mille features — saturated length, lexical diversity,
    // stopword and long-word density, dup-bigram mass — emitted in micros
    // so the score is one exact integer linear combination and the
    // keep/drop class is `logit > 0` (sigmoid is monotone, never
    // evaluated). Pure column algebra at scan speed, the reason linear
    // scorers are the 100 TB curation workhorse. Both engines compute
    // the dup-bigram statistic over the same '|'-joined representation,
    // so the distinct-count agrees byte-for-byte.
    "text_quality_logit" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.qualityLogit(docs(s, dir)),
      Some("""WITH t AS (SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN [] ELSE string_split(text, ' ') END AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE len(list_distinct(toks)) * 1000 // len(toks) END AS uniq_pm,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','it'], w))) * 1000 // len(toks) END AS stop_pm,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE len(list_filter(toks, w -> length(w) > 5)) * 1000 // len(toks) END AS long_pm,
        |  CASE WHEN len(toks) < 2 THEN 0
        |       ELSE (len(toks) - 1 - len(list_distinct(list_transform(range(1, len(toks)),
        |              i -> toks[i] || '|' || toks[i + 1])))) * 1000 // (len(toks) - 1) END AS dup_pm
        |  FROM t)
        |SELECT doc_id,
        |  CAST(-1100000 + 1000 * least(tok, 500) + 2000 * uniq_pm + 900 * stop_pm
        |       + 600 * long_pm - 1500 * dup_pm AS BIGINT) AS logit_micro,
        |  (-1100000 + 1000 * least(tok, 500) + 2000 * uniq_pm + 900 * stop_pm
        |       + 600 * long_pm - 1500 * dup_pm) > 0 AS keep
        |FROM f""".stripMargin)
    )),

    // Code-vs-prose detector: the language-agnostic heuristic an LLM
    // curation pipeline uses to ROUTE documents (code to a code pipeline
    // with its own dedup/quality rules, prose to the text one) before any
    // expensive model scoring. Signals are pure column algebra at scan
    // speed: statement/structure character densities (';', braces, '=',
    // parens — counted via length-of-replace, exact on both engines) and
    // reserved-word token hits, combined into an integer per-mille score
    // so the class boundary is an exact integer comparison. The fixture's
    // word-salad prose scores ~0; OperatorsSpec plants real code rows and
    // proves the separation.
    "text_code_detect" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir).select(col("doc_id"), col("text"),
            (length(col("text")) - length(expr("replace(text, ';', '')"))).as("semi"),
            (length(col("text")) - length(expr("replace(text, '{', '')"))
              + length(col("text")) - length(expr("replace(text, '}', '')"))).as("brace"),
            (length(col("text")) - length(expr("replace(text, '=', '')"))).as("eq"),
            (length(col("text")) - length(expr("replace(text, '(', '')"))).as("paren"),
            expr("""size(filter(split(text, ' '), w -> w IN
              ('def','class','import','return','if','else','for','while',
               'function','var','val','int','void','public','static')))""").as("kw"),
            expr("size(split(text, ' '))").as("toks"))
          .select(col("doc_id"),
            expr("""CAST(CASE WHEN toks = 0 THEN 0
              ELSE (3 * (semi + brace) + 2 * eq + paren + 10 * kw) * 1000 div toks
              END AS BIGINT)""").as("code_score_pm"))
          .withColumn("is_code", col("code_score_pm") >= 40),
      Some("""WITH f AS (SELECT doc_id,
        |    length(text) - length(replace(text, ';', '')) AS n_semi,
        |    2 * length(text) - length(replace(text, '{', ''))
        |      - length(replace(text, '}', '')) AS n_brace,
        |    length(text) - length(replace(text, '=', '')) AS n_eq,
        |    length(text) - length(replace(text, '(', '')) AS n_paren,
        |    len(list_filter(string_split(text, ' '), w -> list_contains(
        |      ['def','class','import','return','if','else','for','while',
        |       'function','var','val','int','void','public','static'], w))) AS kw,
        |    len(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN toks = 0 THEN 0
        |    ELSE (3 * (n_semi + n_brace) + 2 * n_eq + n_paren + 10 * kw) * 1000 // toks
        |    END AS BIGINT) AS code_score_pm,
        |  CASE WHEN toks = 0 THEN 0 >= 40
        |    ELSE (3 * (n_semi + n_brace) + 2 * n_eq + n_paren + 10 * kw) * 1000 // toks >= 40
        |    END AS is_code
        |FROM f""".stripMargin)
    )),

    // BPE-ish token estimate: alnum runs + non-space symbol count — the
    // cheap pre-tokenizer count used for corpus budgeting.
    "text_token_bpe" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir).select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-zA-Z0-9]+"), lit(0))).cast("long").as("alnum_runs"),
          size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0))).cast("long").as("symbol_cnt")),
      Some("""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS BIGINT) AS alnum_runs,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS symbol_cnt
        |FROM documents""".stripMargin)
    )),

    // Corpus bigram frequencies: explode n-grams → count → top 20
    // (deterministic tiebreak on the gram text). Map-side partial counts
    // keep the shuffle at distinct-gram cardinality, not token count.
    "text_ngram_freq" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir)
          .select(explode(Dedup.shingles(col("text"), 2)).as("gram"))
          .groupBy("gram")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("gram").asc)
          .limit(20),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2),
        |grams AS (SELECT DISTINCT doc_id, t[i] || '|' || t[i+1] AS gram FROM u)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM grams
        |GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin)
    )),

    // The quality filter itself: surviving doc ids (integer-arithmetic
    // thresholds so both engines agree exactly).
    "text_quality_filter" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.qualityFilter(docs(s, dir), minTokens = 20,
            maxTokens = 5000, minUniqX1000 = 300)
          .select(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN [] ELSE string_split(text, ' ') END AS toks
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE len(toks) >= 20 AND len(toks) <= 5000
        |  AND len(list_distinct(toks)) * 1000 >= 300 * len(toks)""".stripMargin)
    )),

    // Score-band agreement audit: the linear classifier's logit banded
    // into fixed 0.5-unit bins (fixed-width, NOT ntile — decile windows
    // need a global sort; fixed bins are a scan) against the independent
    // rule-based filter's keep decision per band. A calibrated classifier
    // shows keep-rate rising monotonically with the band — the check run
    // before swapping the rule filter for the model. floor() of the
    // double division on both sides (Spark div truncates negatives,
    // DuckDB // floors — floor() agrees).
    "text_quality_calibration" -> ((
      (s: SparkSession, dir: String) => {
        val lg = TextAnalysis.qualityLogit(docs(s, dir))
        val kept = TextAnalysis.qualityFilter(docs(s, dir), minTokens = 20,
            maxTokens = 5000, minUniqX1000 = 300)
          .select(col("doc_id"), lit(1L).as("rk"))
        lg.join(kept, Seq("doc_id"), "left")
          .select(floor(col("logit_micro").cast("double") / lit(5e5)).cast("long").as("bin"),
            coalesce(col("rk"), lit(0L)).as("rk"), col("logit_micro"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"), sum("rk").as("n_rule_keep"),
            expr("sum(rk) * 1000 div count(1)").as("rule_keep_pm"),
            sum("logit_micro").as("sum_logit"))
      },
      Some("""WITH t AS (SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN [] ELSE string_split(text, ' ') END AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS tok,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE len(list_distinct(toks)) * 1000 // len(toks) END AS uniq_pm,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE len(list_filter(toks, w -> list_contains(['the','a','and','of','to','in','is','it'], w))) * 1000 // len(toks) END AS stop_pm,
        |  CASE WHEN len(toks) = 0 THEN 0
        |       ELSE len(list_filter(toks, w -> length(w) > 5)) * 1000 // len(toks) END AS long_pm,
        |  CASE WHEN len(toks) < 2 THEN 0
        |       ELSE (len(toks) - 1 - len(list_distinct(list_transform(range(1, len(toks)),
        |              i -> toks[i] || '|' || toks[i + 1])))) * 1000 // (len(toks) - 1) END AS dup_pm,
        |  CASE WHEN len(toks) >= 20 AND len(toks) <= 5000
        |            AND len(list_distinct(toks)) * 1000 >= 300 * len(toks)
        |       THEN 1 ELSE 0 END AS rk
        |  FROM t),
        |sc AS (SELECT doc_id, rk,
        |    -1100000 + 1000 * least(tok, 500) + 2000 * uniq_pm + 900 * stop_pm
        |      + 600 * long_pm - 1500 * dup_pm AS logit_micro
        |  FROM f)
        |SELECT CAST(floor(logit_micro / 500000.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(rk) AS BIGINT) AS n_rule_keep,
        |  CAST(sum(rk) * 1000 // count(*) AS BIGINT) AS rule_keep_pm,
        |  CAST(sum(logit_micro) AS BIGINT) AS sum_logit
        |FROM sc GROUP BY 1""".stripMargin)
    )),

    // Context-window chunking: 128-token windows, 32-token overlap.
    "text_chunks" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.chunk(docs(s, dir), chunkTokens = 128, overlap = 32),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 96)) AS start FROM t)
        |SELECT doc_id, CAST(start // 96 AS BIGINT) AS chunk_idx,
        |  array_to_string(toks[CAST(start + 1 AS INT):CAST(least(start + 128, len(toks)) AS INT)], ' ') AS chunk_text,
        |  CAST(least(start + 128, len(toks)) - start AS BIGINT) AS chunk_tokens
        |FROM c""".stripMargin)
    )),

    // PII scrubbing with an audit count per document.
    "text_pii_scrub" -> ((
      (s: SparkSession, dir: String) => TextAnalysis.redactPii(docs(s, dir)),
      Some("""WITH e AS (SELECT doc_id, text,
        |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS emails_out
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS email_cnt,
        |  CAST(len(regexp_extract_all(emails_out, '\d{6,}')) AS BIGINT) AS number_cnt,
        |  regexp_replace(emails_out, '\d{6,}', '<NUM>', 'g') AS redacted
        |FROM e""".stripMargin)
    )),

    // Passage-level duplication: pairs of docs sharing a 16-token span —
    // the boilerplate/template detector document-level Jaccard dilutes
    // away. maxDf = 0 is the oracle path; production uses the df prune
    // (which at this granularity removes exactly the boilerplate spans the
    // report exists to find — they get their own heavy-span report).
    "text_dup_spans" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.sharedSpanPairs(docs(s, dir), n = 16, maxDf = 0),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 14)) AS i FROM toks WHERE len(t) >= 16),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(list_transform(t[CAST(i AS INT):CAST(i+15 AS INT)], x -> CAST(len(x) AS VARCHAR) || ':' || x), '') AS s FROM u)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared_spans
        |FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin)
    )),

    // The surgical-removal span report: per doc pair, the MAXIMAL shared
    // token span (length + 0-based start in each doc) and the count of
    // distinct shared runs — what a curation pipeline cuts instead of
    // dropping whole documents. Positional shingle kernel → hash join on
    // window hash → gaps-and-islands on the match diagonal; the df cap
    // (production skew guard) is replayed in the oracle so the plan under
    // test IS the scale plan. Windows all partition by (pair, diagonal).
    "text_shared_spans" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.sharedSpans(docs(s, dir), n = 8, maxDf = 50),
      Some(s"""WITH ${OracleSql.sharedSpanRuns},
        |ranked AS (SELECT doc_a, doc_b, run_len, sa, sb,
        |        row_number() OVER (PARTITION BY doc_a, doc_b
        |          ORDER BY run_len DESC, sa, sb) AS rn,
        |        count(*) OVER (PARTITION BY doc_a, doc_b) AS n_spans
        |      FROM isla)
        |SELECT doc_a, doc_b, CAST(run_len + 7 AS BIGINT) AS span_tokens,
        |  CAST(sa AS BIGINT) AS start_a, CAST(sb AS BIGINT) AS start_b,
        |  CAST(n_spans AS BIGINT) AS n_spans
        |FROM ranked WHERE rn = 1""".stripMargin)
    )),

    // ...and the removal itself: each doc that is the LATER copy (doc_b)
    // of some shared span gets its single worst span cut out — keep the
    // earliest copy (doc_a), scrub the duplicate. Per doc_b the pair is
    // chosen deterministically (longest span, then smallest doc_a /
    // start_b); reconstruction is pure token-slice algebra on both
    // engines. Composition of Dedup.sharedSpans — same df cap, same
    // partitioned-window discipline; the text column rejoins by id only
    // for the bounded reconstruction projection.
    // GLOBAL paragraph-level dedup with document reassembly — the C4/
    // RefinedWeb middle granularity between whole-doc dedup (too coarse:
    // one boilerplate footer doesn't condemn the doc) and pairwise span
    // removal above (quadratic in the pair graph): chunk each doc into
    // 10-token paragraphs, keep only the GLOBALLY FIRST occurrence of
    // each paragraph text (corpus order: doc_id, then position), rebuild
    // the surviving text in position order, and report the rebuilt
    // text's md5 so the oracle checks the actual reassembled string,
    // not just counts. Scale: paragraphs shuffle as (hashable text,
    // position) rows once for the first-occurrence window and once for
    // the per-doc reassembly — no pair join anywhere, linear in corpus
    // paragraphs.
    "text_paragraph_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val paras = d
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 1)
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, (size(t) + 9) div 10 - 1), " +
                "i -> array_join(slice(t, i * 10 + 1, 10), ' '))"))
              .as(Seq("pidx", "ptxt")))
        val w = Window.partitionBy("ptxt").orderBy(col("doc_id").asc, col("pidx").asc)
        val kept = paras.withColumn("rn", row_number().over(w))
          .withColumn("is_first", col("rn") === 1)
        kept.groupBy("doc_id").agg(
          sum(when(col("is_first"), 1L).otherwise(0L)).as("kept_paras"),
          sum(when(col("is_first"), 0L).otherwise(1L)).as("dropped_paras"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(CASE WHEN is_first " +
              "THEN struct(pidx, ptxt) END)), x -> x.ptxt)"), " "))
            .as("rebuilt_md5"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |paras AS (SELECT doc_id, CAST(i AS BIGINT) AS pidx,
        |    array_to_string(t[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' ') AS ptxt
        |  FROM t, unnest(range(0, (len(t) + 9) // 10)) AS u(i)),
        |fst AS (SELECT doc_id, pidx, ptxt,
        |    row_number() OVER (PARTITION BY ptxt ORDER BY doc_id, pidx) = 1 AS is_first
        |  FROM paras)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS kept_paras,
        |  CAST(sum(CASE WHEN is_first THEN 0 ELSE 1 END) AS BIGINT) AS dropped_paras,
        |  md5(coalesce(string_agg(CASE WHEN is_first THEN ptxt END, ' ' ORDER BY pidx), '')) AS rebuilt_md5
        |FROM fst GROUP BY doc_id""".stripMargin)
    )),

    "text_span_removal" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val spans = Dedup.sharedSpans(d, n = 8, maxDf = 50)
        val w = Window.partitionBy("doc_b")
          .orderBy(col("span_tokens").desc, col("doc_a").asc, col("start_b").asc)
        val best = spans.withColumn("rn2", row_number().over(w)).filter(col("rn2") === 1)
          .select(col("doc_b").as("doc_id"), col("doc_a").as("kept_in"),
            col("span_tokens"), col("start_b"))
        d.join(best, Seq("doc_id"))
          .withColumn("t", split(col("text"), " "))
          .select(col("doc_id"), col("kept_in"),
            col("span_tokens").as("removed_tokens"),
            array_join(concat(
              slice(col("t"), lit(1), col("start_b").cast("int")),
              slice(col("t"), (col("start_b") + col("span_tokens") + 1).cast("int"),
                size(col("t")))), " ").as("scrubbed_text"))
      },
      Some(s"""WITH ${OracleSql.sharedSpanRuns},
        |pair_best AS (SELECT doc_a, doc_b, run_len + 7 AS span_tokens, sa, sb,
        |        row_number() OVER (PARTITION BY doc_a, doc_b
        |          ORDER BY run_len DESC, sa, sb) AS rn
        |      FROM isla),
        |doc_best AS (SELECT doc_b, doc_a, span_tokens, sb,
        |        row_number() OVER (PARTITION BY doc_b
        |          ORDER BY span_tokens DESC, doc_a, sb) AS rn2
        |      FROM pair_best WHERE rn = 1)
        |SELECT r.doc_b AS doc_id, r.doc_a AS kept_in,
        |  CAST(r.span_tokens AS BIGINT) AS removed_tokens,
        |  coalesce(array_to_string(list_concat(
        |    d.t[1:CAST(r.sb AS INT)],
        |    d.t[CAST(r.sb + r.span_tokens + 1 AS INT):CAST(len(d.t) AS INT)]), ' '), '')
        |    AS scrubbed_text
        |FROM doc_best r JOIN toks d ON d.doc_id = r.doc_b
        |WHERE r.rn2 = 1""".stripMargin)
    )),

    // Deterministic stratified sampling: k docs per language, ordered by a
    // content hash — the replayable balanced-sampling primitive for mixture
    // tuning (md5 order is uniform-ish, engine-agnostic, and reproducible,
    // unlike rand()). The row_number()<=k idiom plans through the
    // bounded-heap TopKPerGroup operator in the production session, so the
    // per-stratum sample never sorts a stratum.
    "q_stratified_sample" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("lang").orderBy(col("h").asc, col("doc_id").asc)
        docs(s, dir)
          .select(col("lang"), col("doc_id"), md5(col("text")).as("h"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("lang"), col("doc_id"), col("rnk").cast("long").as("rnk"))
      },
      Some("""SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS BIGINT) AS rnk
        |FROM documents QUALIFY rnk <= 3""".stripMargin)
    )),

    // Corpus composition (the "data mixture" report): docs / tokens / chars
    // per (source, language). One partial+final aggregate over the scan.
    "q_source_mix" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir)
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("docs"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"),
            sum(length(col("text")).cast("long")).as("chars")),
      Some("""SELECT source, lang, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY 1, 2""".stripMargin)
    )),

    // Scalar int8 quantization of the embedding column (min-max per vector)
    // — the 4× compression precompute before ANN indexing. Deterministic
    // double algebra shared with the oracle; exploded to scalar rows for
    // hash comparison.
    "vector_quantize_int8" -> ((
      (s: SparkSession, dir: String) =>
        emb(s, dir)
          .select(col("vec_id"),
            graft.functions.Vectors.quantizeInt8(col("embedding")).as("q"))
          .select(col("vec_id"), posexplode(col("q")).as(Seq("idx", "qval")))
          .select(col("vec_id"), col("idx").cast("long").as("idx"), col("qval")),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
        |SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx,
        |  CAST(CASE WHEN mx = mn THEN 0
        |       ELSE least(255, floor((v[i] - mn) * 255.0 / (mx - mn))) END AS BIGINT) AS qval
        |FROM m, unnest(range(1, len(v) + 1)) AS t(i)""".stripMargin)
    )),

    // Johnson–Lindenstrauss random projection with a distortion audit —
    // THE dimensionality squeeze before any distance-heavy stage (64 → 16
    // dims here): a ±1 sign matrix preserves pairwise distances in
    // expectation (E‖Rx‖² = k‖x‖²), and unlike learned PCA it needs no
    // training pass, no model state, and no matrix shipped — the sign of
    // cell (i,j) is the arithmetic hash (i·31 + j·7919) mod 2, so every
    // executor materializes its slice of R locally. The projection is a
    // per-row codegen'd higher-order function over the int8-quantized
    // vector (integer sums — exact, order-free in both engines); the
    // distortion audit (ratio of projected to original squared distance,
    // against the k· expectation) runs on a declared bounded pair set.
    "vector_jl_projection" -> ((
      (s: SparkSession, dir: String) => {
        val k = 16
        val q = emb(s, dir).filter(col("vec_id") < 24)
          .select(col("vec_id"),
            graft.functions.Vectors.quantizeInt8(col("embedding")).as("q"))
          .withColumn("y", expr(
            s"""transform(sequence(0, ${k - 1}), j ->
               |  aggregate(sequence(0, size(q) - 1), 0L, (acc, i) ->
               |    acc + IF((i * 31 + j * 7919) % 2 = 0, q[i], -q[i])))""".stripMargin))
        val a = q.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("y").as("ya"))
        val b = q.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("y").as("yb"))
        a.join(b, col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
              .as("d2_orig"),
            expr("aggregate(zip_with(ya, yb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
              .as("d2_proj"))
          .select(col("vec_a"), col("vec_b"), col("d2_orig"), col("d2_proj"),
            when(col("d2_orig") === 0L, lit(null).cast("long"))
              .otherwise(expr(s"d2_proj * 1000000 div (${k}L * d2_orig)"))
              .as("ratio_ppm"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 24),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
        |q AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx,
        |    CAST(CASE WHEN mx = mn THEN 0
        |      ELSE least(255, floor((v[i] - mn) * 255.0 / (mx - mn))) END AS BIGINT) AS qval
        |  FROM m, unnest(range(1, len(v) + 1)) AS t(i)),
        |proj AS (SELECT vec_id, j,
        |    sum(CASE WHEN (idx * 31 + j * 7919) % 2 = 0 THEN qval ELSE -qval END) AS yv
        |  FROM q, (SELECT unnest(range(0, 16)) AS j) GROUP BY 1, 2),
        |dorig AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    sum((a.qval - b.qval) * (a.qval - b.qval)) AS d2_orig
        |  FROM q a JOIN q b ON a.idx = b.idx AND a.vec_id < b.vec_id GROUP BY 1, 2),
        |dproj AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    sum((a.yv - b.yv) * (a.yv - b.yv)) AS d2_proj
        |  FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id GROUP BY 1, 2)
        |SELECT o.vec_a, o.vec_b, CAST(o.d2_orig AS BIGINT) AS d2_orig,
        |  CAST(p.d2_proj AS BIGINT) AS d2_proj,
        |  CASE WHEN o.d2_orig = 0 THEN NULL
        |    ELSE CAST(p.d2_proj * 1000000 // (16 * o.d2_orig) AS BIGINT) END AS ratio_ppm
        |FROM dorig o JOIN dproj p ON o.vec_a = p.vec_a AND o.vec_b = p.vec_b""".stripMargin)
    )),

    // Contrastive alignment gap — the label-aware embedding-quality
    // diagnostic: per label, mean squared distance to SAME-label vectors
    // (alignment: small = the class clusters) vs to OTHER-label vectors
    // (dispersion: large = classes separate), and their ratio. A
    // retrieval corpus whose margin_ppm drifts toward 1e6 has embeddings
    // that no longer separate its classes — the health check you run
    // after every encoder swap. All distances in the int8-quantized
    // integer domain (exact, order-free in both engines); pair stage on
    // a declared bounded audit sample, which is also the honest scale
    // shape — at 100 TB this diagnostic runs on a sample, never the
    // corpus cross-product.
    "vector_alignment_gap" -> ((
      (s: SparkSession, dir: String) => {
        val q = emb(s, dir).filter(col("vec_id") < 48)
          .select(col("vec_id"), col("label"),
            graft.functions.Vectors.quantizeInt8(col("embedding")).as("q"))
        val a = q.select(col("vec_id").as("va"), col("label").as("la"), col("q").as("qa"))
        val b = q.select(col("vec_id").as("vb"), col("label").as("lb"), col("q").as("qb"))
        val pairs = a.join(b, col("va") < col("vb"))
          .select(col("la"), col("lb"),
            expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)")
              .as("d2"))
        // each unordered pair contributes to both endpoints' labels
        val sided = pairs.select(col("la").as("label"), col("lb").as("other"), col("d2"))
          .unionAll(pairs.select(col("lb").as("label"), col("la").as("other"), col("d2")))
        sided.groupBy("label")
          .agg(
            sum(when(col("label") === col("other"), 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("label") === col("other"), col("d2"))).as("s_pos"),
            sum(when(col("label") =!= col("other"), 1L).otherwise(0L)).as("n_neg"),
            sum(when(col("label") =!= col("other"), col("d2"))).as("s_neg"))
          .select(col("label"), col("n_pos"),
            expr("CASE WHEN n_pos = 0 THEN NULL ELSE s_pos div n_pos END").as("mean_pos_d2"),
            col("n_neg"),
            expr("CASE WHEN n_neg = 0 THEN NULL ELSE s_neg div n_neg END").as("mean_neg_d2"),
            // ratio in double over exact ≤2^53 integer products (an all-
            // integer (s_pos·n_neg)·1e6 would pass 2^63 and ANSI-throw)
            expr("""CASE WHEN n_pos = 0 OR n_neg = 0 OR s_neg = 0 THEN NULL
                   |  ELSE CAST(floor(1000000.0 * (CAST(s_pos AS DOUBLE) * n_neg)
                   |    / (CAST(s_neg AS DOUBLE) * n_pos)) AS LONG) END""".stripMargin)
              .as("margin_ppm"))
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 48),
        |m AS (SELECT vec_id, label, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
        |q AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS idx,
        |    CAST(CASE WHEN mx = mn THEN 0
        |      ELSE least(255, floor((v[i] - mn) * 255.0 / (mx - mn))) END AS BIGINT) AS qval
        |  FROM m, unnest(range(1, len(v) + 1)) AS t(i)),
        |d AS (SELECT a.vec_id AS va, any_value(a.label) AS la,
        |    b.vec_id AS vb, any_value(b.label) AS lb,
        |    sum((a.qval - b.qval) * (a.qval - b.qval)) AS d2
        |  FROM q a JOIN q b ON a.idx = b.idx AND a.vec_id < b.vec_id GROUP BY 1, 3),
        |sided AS (SELECT la AS label, lb AS other, d2 FROM d
        |  UNION ALL SELECT lb, la, d2 FROM d),
        |agg AS (SELECT label,
        |    CAST(sum(CASE WHEN label = other THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN label = other THEN d2 END) AS BIGINT) AS s_pos,
        |    CAST(sum(CASE WHEN label != other THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    CAST(sum(CASE WHEN label != other THEN d2 END) AS BIGINT) AS s_neg
        |  FROM sided GROUP BY 1)
        |SELECT label, n_pos,
        |  CASE WHEN n_pos = 0 THEN NULL ELSE s_pos // n_pos END AS mean_pos_d2,
        |  n_neg,
        |  CASE WHEN n_neg = 0 THEN NULL ELSE s_neg // n_neg END AS mean_neg_d2,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 OR s_neg = 0 THEN NULL
        |    ELSE CAST(floor(1000000.0 * (CAST(s_pos AS DOUBLE) * n_neg)
        |      / (CAST(s_neg AS DOUBLE) * n_pos)) AS BIGINT) END AS margin_ppm
        |FROM agg""".stripMargin)
    )),

    // Incremental dedup: the daily production shape — a new batch
    // (doc_id % 10 == 0) filtered against the accepted corpus (the rest)
    // through minhash band buckets + exact-Jaccard verify, never a corpus
    // self-join. Oracle = the exact batch-vs-corpus Jaccard anti-join;
    // equality holds because 16×4 banding recall is total at ≥ 0.8 on the
    // fixtures (same guarantee dedup_minhash_lsh is green under).
    "dedup_incremental" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        Dedup.incrementalFilter(
            d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0))
          .select(col("doc_id"))
      },
      Some(s"""WITH ${OracleSql.shingleCounts},
        |pairs AS (
        |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, CAST(count(*) AS BIGINT) AS common
        |  FROM sh b JOIN sh c ON b.s = c.s AND b.doc_id % 10 = 0 AND c.doc_id % 10 != 0
        |  GROUP BY 1, 2),
        |dups AS (
        |  SELECT DISTINCT batch_id FROM pairs p
        |  JOIN cnt cb ON cb.doc_id = p.batch_id JOIN cnt cc ON cc.doc_id = p.corpus_id
        |  WHERE common * 1000 >= 800 * (cb.n_sh + cc.n_sh - common))
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT batch_id FROM dups)""".stripMargin)
    )),

    // Incremental connected components — the daily-update contract a
    // 100 TB dedup graph actually runs: yesterday's labels become STAR
    // EDGES (doc → cluster root, preserving all old connectivity), the
    // pair generator probes ONLY the new batch against the full index
    // (Dedup.incrementalPairs — old-old pairs never recomputed), and CC
    // over (label edges ∪ new-touching pairs) must equal batch CC over
    // ALL pairs. The oracle IS the full batch recomputation (recursive
    // CTE), so the equality — the whole point of the incremental
    // contract — is what the driver hash-checks.
    "dedup_cc_incremental" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val isNew = (c: Column) => pmod(c, lit(3)) === 2
        // the old-corpus CC loop and the incremental pair construction
        // (whose shingle index eagerly fills its cache) are independent —
        // overlap them from driver threads (guide §2.6); only the final
        // CC depends on both
        val (oldLabels, newPairs) = QueryUtil.inParallel(
          Dedup.connectedComponents(
            Dedup.ngramJaccardPairs(d.filter(!isNew(col("doc_id"))), n = 3, pct = 80, maxDf = 0)
              .select(col("doc_a"), col("doc_b"))),
          Dedup.incrementalPairs(d, isNew, n = 3, pct = 80, maxDf = 0))
        val labelEdges = oldLabels
          .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
        Dedup.connectedComponents(labelEdges.unionAll(newPairs))
      },
      Some(s"""WITH RECURSIVE ${OracleSql.jaccardPairs},
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |reach AS (
        |  SELECT a AS node, b AS r FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
        |SELECT node AS doc_id, least(node, min(r)) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin)
    )),

    // Intra-document repetition (the Gopher-rule family): total/distinct
    // bigram counts and the most-repeated bigram's count, all integers.
    // Narrow per-row array algebra — no shuffle, runs at scan speed.
    "text_repetition" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.repetitionSignals(docs(s, dir), n = 2),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT doc_id, t[i] || '|' || t[i+1] AS s
        |      FROM toks, unnest(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |per AS (SELECT doc_id, s, count(*) AS c FROM u GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |               CAST(count(*) AS BIGINT) AS n_distinct,
        |               CAST(max(c) AS BIGINT) AS top_gram_count
        |        FROM per GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
        |       COALESCE(n_distinct, 0) AS n_distinct,
        |       COALESCE(top_gram_count, 0) AS top_gram_count
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin)
    )),

    // Benchmark decontamination: training docs (doc_id % 23 != 0) sharing a
    // 13-token span (the published GPT-3 decontamination length) with the
    // held-out eval split, with shared-span and eval-doc counts.
    "text_decontaminate" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        TextAnalysis.contaminationReport(
          d.filter(col("doc_id") % 23 =!= 0), d.filter(col("doc_id") % 23 === 0), n = 13)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i FROM toks WHERE len(t) >= 13),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(list_transform(t[CAST(i AS INT):CAST(i+12 AS INT)], x -> CAST(len(x) AS VARCHAR) || ':' || x), '') AS s FROM u),
        |tr AS (SELECT * FROM sh WHERE doc_id % 23 != 0),
        |ev AS (SELECT * FROM sh WHERE doc_id % 23 = 0)
        |SELECT tr.doc_id, CAST(count(DISTINCT tr.s) AS BIGINT) AS n_shared_ngrams,
        |       CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
        |FROM tr JOIN ev ON tr.s = ev.s GROUP BY 1""".stripMargin)
    )),

    // The SCALE path for decontamination: a Bloom filter over the eval
    // set's 13-grams instead of the exact gram join — at 100 TB the eval
    // side compresses to a bit RELATION (≤ 2²⁰ rows, broadcast) probed
    // by three semi joins, never a gram-to-gram shuffle. Deterministic
    // md5-derived bit positions (3 × 20-bit hex fields) make the filter
    // itself SQL-replayable, so the oracle recomputes the SAME bits —
    // and the exact counts ride along, exposing the false-positive rate
    // the filter trades for its size (false negatives are structurally
    // impossible: a present gram's bits are all set). Per train doc with
    // any bloom hit: bloom-flagged vs exactly-shared gram counts.
    "text_decontaminate_bloom" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        // spread the 13-gram explode + triple-md5 pass across cores
        // before the compute (guide §1.2 step 2; one-row-group parquet
        // defeats byte-splitting, see text_compressibility)
        val withBits = d.repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), explode(Dedup.shingles(col("text"), 13)).as("g"))
          .select(col("doc_id"), col("g"),
            expr("CAST(conv(substring(md5(g), 1, 5), 16, 10) AS BIGINT)").as("b1"),
            expr("CAST(conv(substring(md5(g), 6, 5), 16, 10) AS BIGINT)").as("b2"),
            expr("CAST(conv(substring(md5(g), 11, 5), 16, 10) AS BIGINT)").as("b3"))
          .eagerPersisted
        val ev = withBits.filter(pmod(col("doc_id"), lit(23)) === 0)
        val bloom = ev.select(explode(array(col("b1"), col("b2"), col("b3"))).as("bit"))
          .distinct()
          // structural no-op (each bit is conv() of FIVE hex digits, so
          // distinct bits ≤ 16^5 by definition — can never truncate):
          // makes the bloom side's row bound machine-visible to the
          // broadcast-hint audit at any SF
          .limit(1 << 20)
        val train = withBits.filter(pmod(col("doc_id"), lit(23)) =!= 0)
        // ONE broadcast subtree for all three bit probes (r16): aliasing
        // the bloom set per-column (`bit AS b1/b2/b3`) made three
        // non-identical BroadcastExchanges, so the bloom DISTINCT and its
        // broadcast build ran three times; joining the same relation with
        // an explicit key predicate keeps the build subtrees identical
        // and ReuseExchange collapses them to one
        val bl = broadcast(bloom)
        val flagged = train
          .join(bl, col("b1") === bl("bit"), "left_semi")
          .join(bl, col("b2") === bl("bit"), "left_semi")
          .join(bl, col("b3") === bl("bit"), "left_semi")
        val nb = flagged.groupBy("doc_id").agg(countDistinct(col("g")).as("n_bloom_grams"))
        val nx = train.join(ev.select("g").distinct(), Seq("g"), "left_semi")
          .groupBy("doc_id").agg(countDistinct(col("g")).as("n_exact_grams"))
        nb.join(nx, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_bloom_grams"),
            coalesce(col("n_exact_grams"), lit(0L)).as("n_exact_grams"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 11)) AS i FROM toks WHERE len(t) >= 13),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[CAST(i AS INT):CAST(i+12 AS INT)], '|') AS g FROM u),
        |hb AS (SELECT doc_id, g, md5(g) AS h FROM sh),
        |wb AS (SELECT doc_id, g,
        |    (strpos('0123456789abcdef', substr(h, 1, 1))-1)*65536 + (strpos('0123456789abcdef', substr(h, 2, 1))-1)*4096 + (strpos('0123456789abcdef', substr(h, 3, 1))-1)*256 + (strpos('0123456789abcdef', substr(h, 4, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 5, 1))-1) AS b1,
        |    (strpos('0123456789abcdef', substr(h, 6, 1))-1)*65536 + (strpos('0123456789abcdef', substr(h, 7, 1))-1)*4096 + (strpos('0123456789abcdef', substr(h, 8, 1))-1)*256 + (strpos('0123456789abcdef', substr(h, 9, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 10, 1))-1) AS b2,
        |    (strpos('0123456789abcdef', substr(h, 11, 1))-1)*65536 + (strpos('0123456789abcdef', substr(h, 12, 1))-1)*4096 + (strpos('0123456789abcdef', substr(h, 13, 1))-1)*256 + (strpos('0123456789abcdef', substr(h, 14, 1))-1)*16 + (strpos('0123456789abcdef', substr(h, 15, 1))-1) AS b3
        |  FROM hb),
        |bloom AS (SELECT DISTINCT bit FROM (
        |  SELECT b1 AS bit FROM wb WHERE doc_id % 23 = 0
        |  UNION ALL SELECT b2 FROM wb WHERE doc_id % 23 = 0
        |  UNION ALL SELECT b3 FROM wb WHERE doc_id % 23 = 0)),
        |tr AS (SELECT * FROM wb WHERE doc_id % 23 != 0),
        |fl AS (SELECT tr.doc_id, tr.g FROM tr
        |  WHERE tr.b1 IN (SELECT bit FROM bloom)
        |    AND tr.b2 IN (SELECT bit FROM bloom)
        |    AND tr.b3 IN (SELECT bit FROM bloom)),
        |nb AS (SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_bloom_grams
        |  FROM fl GROUP BY 1),
        |nx AS (SELECT doc_id, CAST(count(DISTINCT g) AS BIGINT) AS n_exact_grams
        |  FROM tr WHERE g IN (SELECT g FROM wb WHERE doc_id % 23 = 0) GROUP BY 1)
        |SELECT nb.doc_id, nb.n_bloom_grams,
        |  coalesce(nx.n_exact_grams, 0) AS n_exact_grams
        |FROM nb LEFT JOIN nx ON nb.doc_id = nx.doc_id""".stripMargin)
    )),

    // Characteristic terms per doc by integer tf/df weight — two
    // partial+final aggregates + a bounded-heap top-k, no floats so the
    // cross-engine compare is exact.
    "text_tfidf" -> ((
      (s: SparkSession, dir: String) => TextAnalysis.tfidfKeywords(docs(s, dir), k = 3),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE length(text) > 0),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, tf.tok AS tok, CAST(tf * 1000000 // df AS BIGINT) AS score
        |       FROM tf JOIN df USING (tok))
        |SELECT doc_id, tok, score,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rnk
        |FROM sc QUALIFY rnk <= 3""".stripMargin)
    )),

    // Corpus token-frequency head (Zipf report): global term frequencies,
    // top 50 by (freq, term). One partial+final aggregate, then
    // sort+limit — which plans as TakeOrderedAndProject (per-partition
    // bounded heaps), NOT a global window: at web scale the distinct
    // vocabulary is billions of rare tokens, and a row_number over all of
    // it would funnel the whole relation through one partition. The
    // 50-row ranking window after the limit is free.
    "q_token_zipf" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.orderBy(col("freq").desc, col("tok").asc)
        docs(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("tok").asc).limit(50)
          .withColumn("rnk", row_number().over(w))
          .select(col("tok"), col("freq"), col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE length(text) > 0),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1)
        |SELECT tok, freq,
        |       CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rnk
        |FROM f QUALIFY rnk <= 50""".stripMargin)
    )),

    // Zipf-exponent FIT — the one-number corpus diagnostic on top of the
    // q_token_zipf head: least-squares slope of ln(freq) vs ln(rank)
    // over the top-100 tokens (a healthy natural corpus sits near −1;
    // drift flags boilerplate floods or scraping pathologies). The fit
    // is the established cross-engine double discipline end to end:
    // per-rank ln terms floored to integer micros, all four least-
    // squares sums exact integer arithmetic, ONE double division at the
    // end rounded at 6 — no order-dependent float summation anywhere.
    // Scale: the rank head comes from TakeOrdered (bounded heap, limit
    // below the window — never a global sort), the fit is 100 rows.
    "q_zipf_fit" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.orderBy(col("freq").desc, col("tok").asc)
        val head = docs(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("tok").asc).limit(100)
          .withColumn("rnk", row_number().over(w))
          .select(col("rnk").cast("long").as("rnk"), col("freq"))
        head.select(
            floor(log(col("rnk").cast("double")) * 1e6).cast("long").as("xm"),
            floor(log(col("freq").cast("double")) * 1e6).cast("long").as("ym"))
          .agg(count(lit(1)).as("n"), sum("xm").as("sx"), sum("ym").as("sy"),
            sum(col("xm") * col("ym")).as("sxy"),
            sum(col("xm") * col("xm")).as("sxx"))
          .select(col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
              .as("zipf_slope"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE length(text) > 0),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
        |head AS (SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rnk,
        |    freq FROM f ORDER BY freq DESC, tok LIMIT 100),
        |m AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS xm,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS ym FROM head),
        |sums AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xm) AS BIGINT) AS sx,
        |    CAST(sum(ym) AS BIGINT) AS sy, CAST(sum(xm * ym) AS BIGINT) AS sxy,
        |    CAST(sum(xm * xm) AS BIGINT) AS sxx FROM m)
        |SELECT n, round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        |FROM sums""".stripMargin)
    )),

    // Per-label centroid accumulators: elementwise integer-quantized
    // (floor(x·10⁴)) sums + counts — the mergeable partial+final form a
    // distributed pipeline computes (the float mean is qsum/n/10⁴
    // downstream). Integer sums are order-independent, so the compare is
    // exact where a float mean would depend on reduction order.
    // Exact-arithmetic Lloyd k-means, 2 unrolled rounds: init = the 8
    // lowest vec_ids, integer-quantized vectors, integer squared
    // distances, floored-integer-mean centroid updates — so the FULL
    // clustering (assignments AND distances) replays bit-for-bit in SQL,
    // unlike the Spark-ML KMeans entries whose float means only admit
    // property oracles. The oracle unrolls c0→a0→c1→a1→c2→final.
    "vector_kmeans_lloyd" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.lloydKMeansQ(emb(s, dir), k = 8, iters = 2),
      Some(s"""WITH ${OracleSql.lloydFirstRound},
        |s1 AS (SELECT u.vec_id, c.cl, sum((u.qv - c.cv) * (u.qv - c.cv)) AS d2
        |       FROM u JOIN c1 c USING (idx) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cl FROM (SELECT vec_id, cl,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM s1)
        |       WHERE rn = 1),
        |c2 AS (SELECT a.cl, u.idx,
        |         CAST(floor(CAST(sum(u.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |       FROM u JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        |s2 AS (SELECT u.vec_id, c.cl, CAST(sum((u.qv - c.cv) * (u.qv - c.cv)) AS BIGINT) AS d2
        |       FROM u JOIN c2 c USING (idx) GROUP BY 1, 2)
        |SELECT vec_id, cl AS cluster, d2 FROM (SELECT vec_id, cl, d2,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM s2)
        |WHERE rn = 1""".stripMargin)
    )),

    // Top principal direction by exact fixed-point power iteration
    // (Similarity.pcaPowerQ): quantize, center by floored integer means,
    // d×d integer covariance via the outer-product aggregate, 3 unrolled
    // matrix-vector rounds renormalized by positive integer division
    // (sign split off — Spark div truncates, DuckDB // floors; positive
    // operands agree). The whitening/"remove the dominant direction"
    // primitive, bit-for-bit replayable.
    "vector_pca_power" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.pcaPowerQ(emb(s, dir), iters = 3),
      Some(s"""WITH ${OracleSql.powerIterationStart},
        |${OracleSql.powerRounds(3)}
        |SELECT j AS dim_idx, v AS weight FROM v3""".stripMargin)
    )),

    // Top-2 principal directions (Similarity.pca2PowerQ): the dominant
    // direction plus the second by DEFLATED power iteration — normalize,
    // then sign-split-project out u, every round — giving the 2-D
    // coordinate frame for embedding-cloud visualization and two-
    // direction drift monitoring. The oracle replays the covariance,
    // the three v1 rounds, and every deflation round's matvec +
    // normalize + projection + renormalize, bit for bit.
    "vector_pca_top2" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.pca2PowerQ(emb(s, dir), iters = 3),
      Some(pca2Oracle(
        """SELECT v3.j AS dim_idx, v3.v AS w1, z3.v AS w2
          |FROM v3 JOIN z3 ON z3.j = v3.j""".stripMargin))
    )),

    // The embedding-cloud scatter plot AS A RELATION
    // (Similarity.pcaScatterBins): every vector's fixed-point
    // coordinates in the top-2 frame, floor-binned into a coarse grid —
    // ~grid² rows regardless of corpus size, the artifact a monitoring
    // dashboard renders and diffs between snapshots. Projection = two
    // broadcast joins of the 64-row frame against one corpus scan.
    "vector_pca_scatter" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.pcaScatterBins(emb(s, dir), iters = 3, binWidth = 1000L),
      Some(pca2Oracle(
        """norms AS (SELECT CAST(sum(v3.v * v3.v) AS BIGINT) AS n1,
          |    (SELECT CAST(sum(v * v) AS BIGINT) FROM z3) AS n2 FROM v3),
          |dots AS (SELECT u.vec_id,
          |    CAST(sum(u.qv * v3.v) AS BIGINT) AS d1,
          |    CAST(sum(u.qv * z3.v) AS BIGINT) AS d2
          |  FROM u JOIN v3 ON v3.j = u.idx JOIN z3 ON z3.j = u.idx
          |  GROUP BY 1),
          |proj AS (SELECT
          |    CASE WHEN d1 < 0 THEN -(abs(d1) * 10000 // n1)
          |      ELSE abs(d1) * 10000 // n1 END AS p1,
          |    CASE WHEN d2 < 0 THEN -(abs(d2) * 10000 // n2)
          |      ELSE abs(d2) * 10000 // n2 END AS p2
          |  FROM dots, norms)
          |SELECT CAST(floor(CAST(p1 AS DOUBLE) / 1000) AS BIGINT) AS bx,
          |  CAST(floor(CAST(p2 AS DOUBLE) / 1000) AS BIGINT) AS by,
          |  CAST(count(*) AS BIGINT) AS cnt
          |FROM proj GROUP BY 1, 2""".stripMargin, extraCte = true))
    )),

    // All-but-the-top whitening (Similarity.abttWhitenQ): subtract the
    // pcaPowerQ dominant direction from each vector — the cosine-bias
    // fix — in the same sign-split fixed-point algebra, dumped for the
    // vec_id < 8 sample. The oracle replays covariance, three power
    // rounds, AND the projection, end to end.
    "vector_abtt_whiten" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.abttWhitenQ(emb(s, dir), idPred = col("vec_id") < 8, iters = 3),
      Some(s"""WITH ${OracleSql.powerIterationStart},
        |${OracleSql.powerRounds(3)},
        |uu AS (SELECT sum(v * v) AS uu FROM v3),
        |dots AS (SELECT vec_id, sum(u.qv * v3.v) AS dot
        |  FROM u JOIN v3 ON v3.j = u.idx WHERE vec_id < 8 GROUP BY 1)
        |SELECT u.vec_id, u.idx AS dim_idx,
        |  CAST(u.qv - CASE WHEN d.dot * v3.v < 0 THEN -(abs(d.dot * v3.v) // uu)
        |    ELSE abs(d.dot * v3.v) // uu END AS BIGINT) AS whitened
        |FROM u JOIN v3 ON v3.j = u.idx JOIN dots d ON d.vec_id = u.vec_id, uu
        |WHERE u.vec_id < 8""".stripMargin)
    )),

    // PQ codebook training: the exact Lloyd tier run independently in 4
    // contiguous 16-dim subspaces as ONE grouped plan (sub rides every
    // key). The per-(vector, subspace) code IS the PQ encoding (4×2
    // bits/vector at k=4); d2 is the exact integer quantization error.
    // One update round unrolled in the oracle: c0→a0→c1→final.
    "vector_pq_train" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.pqTrainQ(emb(s, dir), nSub = 4, subDim = 16, k = 4, iters = 1),
      Some(s"""WITH ${OracleSql.pqFirstRound},
        |s1 AS (SELECT u.vec_id, u.sub, c.cl,
        |         CAST(sum((u.qv - c.cv) * (u.qv - c.cv)) AS BIGINT) AS d2
        |       FROM u JOIN c1 c ON c.sub = u.sub AND c.idx = u.idx GROUP BY 1, 2, 3)
        |SELECT vec_id, sub AS subspace, cl AS code, d2 FROM (SELECT vec_id, sub, cl, d2,
        |  row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rn FROM s1)
        |WHERE rn = 1""".stripMargin)
    )),

    // PQ search by asymmetric distance computation over the trained
    // codebook: per query a tiny integer (sub, code) distance table,
    // broadcast against the corpus CODES — embeddings never touched at
    // query time (the PQ promise). All-integer, so the approximate
    // ranking replays bit-for-bit: oracle extends the training chain
    // with codes -> distance table -> lookup-join -> rank.
    "ann_pq_adc_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5, nSub = 4,
          subDim = 16, kCodes = 4, iters = 1)
      },
      Some(s"""WITH ${OracleSql.pqFirstRound},
        |s1 AS (SELECT u.vec_id, u.sub, c.cl, sum((u.qv - c.cv) * (u.qv - c.cv)) AS d2
        |       FROM u JOIN c1 c ON c.sub = u.sub AND c.idx = u.idx GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, cl FROM (SELECT vec_id, sub, cl,
        |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rn FROM s1)
        |       WHERE rn = 1),
        |dtab AS (SELECT q.vec_id AS query_id, c.sub, c.cl,
        |           sum((q.qv - c.cv) * (q.qv - c.cv)) AS dq
        |         FROM u q JOIN c1 c ON c.sub = q.sub AND c.idx = q.idx
        |         WHERE q.vec_id < 8 GROUP BY 1, 2, 3),
        |sc AS (SELECT d.query_id, k.vec_id, CAST(sum(d.dq) AS BIGINT) AS adist
        |       FROM codes k JOIN dtab d ON d.sub = k.sub AND d.cl = k.cl
        |       WHERE d.query_id != k.vec_id GROUP BY 1, 2)
        |SELECT query_id, vec_id AS neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS BIGINT) AS rnk,
        |  adist
        |FROM sc QUALIFY rnk <= 5""".stripMargin)
    )),

    // Residual vector quantization: level 1 = one exact Lloyd round,
    // level 2 quantizes the integer residuals against the ZERO codeword
    // (code -1, "keep the level-1 reconstruction") plus 3 seed residuals
    // - the two-stage scheme of modern neural codecs, monotone by
    // construction (d2_res <= d2_l1 for every vector). Fully unrolled in
    // the oracle: lloyd chain -> residuals -> codebook -> argmin.
    "vector_rvq" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.residualQuantizeQ(emb(s, dir), k1 = 8, k2 = 4),
      Some(s"""WITH ${OracleSql.lloydFirstRound},
        |s1 AS (SELECT u.vec_id, c.cl, CAST(sum((u.qv - c.cv) * (u.qv - c.cv)) AS BIGINT) AS d2
        |       FROM u JOIN c1 c USING (idx) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cl, d2 FROM (SELECT vec_id, cl, d2,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn FROM s1)
        |       WHERE rn = 1),
        |res AS (SELECT u.vec_id, a.cl AS code1, u.idx, u.qv - c.cv AS rv
        |        FROM u JOIN a1 a USING (vec_id)
        |        JOIN c1 c ON c.cl = a.cl AND c.idx = u.idx),
        |c2 AS (SELECT vec_id AS cl2, idx, rv AS cv2 FROM res
        |       WHERE vec_id IN (SELECT DISTINCT vec_id FROM res ORDER BY vec_id LIMIT 3)
        |       UNION ALL
        |       SELECT CAST(-1 AS BIGINT), idx, CAST(0 AS BIGINT)
        |       FROM (SELECT DISTINCT idx FROM res)),
        |s2 AS (SELECT r.vec_id, r.code1, c.cl2,
        |         CAST(sum((r.rv - c.cv2) * (r.rv - c.cv2)) AS BIGINT) AS d2_res
        |       FROM res r JOIN c2 c USING (idx) GROUP BY 1, 2, 3),
        |a2 AS (SELECT vec_id, code1, cl2, d2_res FROM (SELECT vec_id, code1, cl2, d2_res,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d2_res, cl2) AS rn FROM s2)
        |       WHERE rn = 1)
        |SELECT a2.vec_id, a2.code1, a2.cl2 AS code2,
        |  a1.d2 AS d2_l1, a2.d2_res
        |FROM a2 JOIN a1 ON a1.vec_id = a2.vec_id""".stripMargin)
    )),

    "vector_centroids" -> ((
      (s: SparkSession, dir: String) =>
        emb(s, dir)
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("idx", "x")))
          .select(col("label"), col("idx").cast("long").as("idx"),
            floor(col("x").cast("double") * 10000).cast("long").as("q"))
          .groupBy("label", "idx")
          .agg(sum("q").as("qsum"), count(lit(1)).as("n")),
      Some("""WITH e AS (SELECT CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, CAST(i - 1 AS BIGINT) AS idx,
        |             CAST(floor(v[i] * 10000) AS BIGINT) AS q
        |      FROM e, unnest(range(1, len(v) + 1)) AS t(i))
        |SELECT label, idx, CAST(sum(q) AS BIGINT) AS qsum, CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY 1, 2""".stripMargin)
    )),

    // Training-shard packing (sequence packing's document-level form): docs
    // are packed in id order per source; a shard closes once its cumulative
    // token count reaches the budget. floor(preceding-cum ÷ budget) is the
    // deterministic window form of greedy packing (a straddling doc lands in
    // the open shard, so shards can overshoot by < one doc). The window
    // partitions by source — the unit a pipeline packs within; at 100 TB the
    // partition key is whatever bounds a window partition's size (source ×
    // date), never a global ordering.
    "q_pack_shards" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        docs(s, dir)
          .select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
          .withColumn("cum_before", coalesce(sum("tokens").over(w), lit(0L)))
          .select(col("source"), col("doc_id"), col("tokens"),
            floor(col("cum_before") / 2000L).cast("long").as("shard"))
      },
      Some("""WITH t AS (SELECT source, doc_id,
        |  CAST(CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT source, doc_id, tokens,
        |  COALESCE(SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT source, doc_id, tokens, CAST(cum_before // 2000 AS BIGINT) AS shard
        |FROM c""".stripMargin)
    )),

    // Per-label embedding outliers: top-3 farthest vectors from their
    // label's centroid. The centroid rides the same integer-quantized
    // accumulators as vector_centroids (qsum/n exact in both engines); the
    // distance is per-row array algebra over the broadcast centroid array,
    // left-to-right fold in both engines, rounded before ranking so the
    // rank comparison never straddles an ulp.
    "vector_outliers" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding").cast("array<double>").as("v"))
        val acc = e
          .select(col("label"), posexplode(col("v")).as(Seq("idx", "x")))
          .select(col("label"), col("idx"), floor(col("x") * 10000).cast("long").as("q"))
          .groupBy("label", "idx")
          .agg(sum("q").as("qsum"), count(lit(1)).as("n"))
        val cen = acc.groupBy("label").agg(
          transform(array_sort(collect_list(struct(col("idx"), col("qsum"), col("n")))),
            t => t.getField("qsum").cast("double") / (t.getField("n") * lit(10000.0))).as("c"))
        val w = Window.partitionBy("label").orderBy(col("dist2").desc, col("vec_id").asc)
        e.join(broadcast(cen), Seq("label"))
          .select(col("label"), col("vec_id"),
            round(aggregate(zip_with(col("v"), col("c"), (x, m) => (x - m) * (x - m)),
              lit(0.0), (a, d) => a + d), 4).as("dist2"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("label"), col("vec_id"), col("dist2"), col("rnk").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, i AS idx, CAST(floor(v[i] * 10000) AS BIGINT) AS q
        |      FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
        |acc AS (SELECT label, idx, sum(q) AS qsum, count(*) AS n FROM u GROUP BY 1, 2),
        |cen AS (SELECT label, list(CAST(qsum AS DOUBLE) / (n * 10000.0) ORDER BY idx) AS c FROM acc GROUP BY label),
        |d AS (SELECT e.label, e.vec_id,
        |        round(list_sum(list_transform(range(1, len(v) + 1),
        |          i -> (v[i] - c[i]) * (v[i] - c[i]))), 4) AS dist2
        |      FROM e JOIN cen USING (label))
        |SELECT label, vec_id, dist2,
        |       CAST(row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS BIGINT) AS rnk
        |FROM d QUALIFY rnk <= 3""".stripMargin)
    )),

    // Quality-weighted deterministic sampling: doc kept iff
    // hash(doc_id) mod 1000 < its lexical-uniqueness score (0..1000), so
    // higher-quality docs are kept proportionally more often — the
    // replayable form of importance sampling for mixture construction.
    // The hash is overflow-safe multiplicative mod-arithmetic (inner pmod
    // keeps the product < 2^63 for any doc_id), identical in both engines;
    // rand() would be neither replayable nor cross-engine.
    "q_weighted_sample" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val t = TextAnalysis.tokens(col("text"))
        val weight = when(size(t) === 0, lit(0L))
          .otherwise(floor(size(array_distinct(t)).cast("long") * 1000L / size(t)))
        val h = pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L, lit(1000000007L)) % 1000L
        d.select(col("doc_id"), weight.cast("long").as("weight"), h.as("h"))
          .filter(col("h") < col("weight"))
      },
      Some("""WITH w AS (SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000
        |            // len(string_split(text, ' ')) END AS weight,
        |  ((doc_id % 1000000007) * 2654435761 % 1000000007) % 1000 AS h
        |  FROM documents)
        |SELECT doc_id, weight, h FROM w WHERE h < weight""".stripMargin)
    )),

    // Weighted sampling WITHOUT replacement via Efraimidis–Spirakis keys:
    // q_weighted_sample's Bernoulli keep gives a random-SIZE sample; the
    // exact-size-k draw ranks items by u^(1/w) (equivalently ln(u)/w) and
    // keeps the k best — the one-pass distributed algorithm for "draw
    // exactly 25 docs, quality-proportional". Determinism: u is an exact
    // dyadic-denominator rational from the replayable multiplicative hash
    // (one IEEE division — bit-identical in both engines), ln(u) is pinned
    // to fixed-point ONCE (the kneser_ney idiom), and the rank key k6/w is
    // a single division of identical operands. Scale: the top-25 is
    // TakeOrderedAndProject (per-partition heads, no global sort); the
    // rank window runs over the 25-row limited relation only.
    "q_weighted_reservoir" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val t = TextAnalysis.tokens(col("text"))
        val weight = when(size(t) === 0, lit(0L))
          .otherwise(floor(size(array_distinct(t)).cast("long") * 1000L / size(t)))
        val h20 = pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L,
          lit(1000000007L)) % 1048576L
        val keyed = d
          .select(col("doc_id"), weight.cast("long").as("weight"),
            floor(lit(1e6) * log((h20 + 1L).cast("double") / 1048577.0))
              .cast("long").as("k6"))
          .filter(col("weight") > 0)
          .withColumn("eskey", col("k6").cast("double") / col("weight"))
        val top = keyed.orderBy(col("eskey").desc, col("doc_id").asc).limit(25)
        val w = Window.orderBy(col("eskey").desc, col("doc_id").asc)
        top.withColumn("rnk", row_number().over(w).cast("long"))
          .select(col("doc_id"), col("weight"), col("k6"), col("rnk"))
      },
      Some("""WITH w AS (SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000
        |            // len(string_split(text, ' ')) END AS weight,
        |  ((doc_id % 1000000007) * 2654435761 % 1000000007) % 1048576 AS h20
        |  FROM documents),
        |k AS (SELECT doc_id, weight,
        |        CAST(floor(1e6 * ln((h20 + 1) / 1048577.0)) AS BIGINT) AS k6
        |      FROM w WHERE weight > 0)
        |SELECT doc_id, weight, k6,
        |  CAST(row_number() OVER (ORDER BY CAST(k6 AS DOUBLE) / weight DESC, doc_id) AS BIGINT) AS rnk
        |FROM k QUALIFY rnk <= 25""".stripMargin)
    )),

    // Per-domain document caps — the CommonCrawl-pipeline op that stops a
    // single domain from dominating the corpus: keep the 5 highest-quality
    // docs per source, quality = the lexical-uniqueness score. The plan is
    // the TopKDocsAgg typed aggregator, NOT a window: with a handful of
    // domains over 100 TB, both the row_number window and the TopKPerGroup
    // operator cluster every row by domain first (#domains tasks scan
    // everything); the aggregator's map-side partial combine ships only
    // #partitions × #domains × 5 pairs to the reduce side.
    "text_domain_cap" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t = TextAnalysis.tokens(col("text"))
        val score = when(size(t) === 0, lit(0L))
          .otherwise(floor(size(array_distinct(t)).cast("long") * 1000L / size(t)))
        val scored = docs(s, dir)
          .select(col("source"), score.cast("long").as("score"), col("doc_id"))
          .as[(String, Long, Long)]
        val agg = new graft.functions.TopKDocsAgg(5)
        scored.groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(agg.toColumn.name("top"))
          .toDF("source", "top")
          .select(col("source"), posexplode(col("top")).as(Seq("i", "p")))
          .select(col("source"), col("p._1").as("score"), col("p._2").as("doc_id"),
            (col("i") + 1).cast("long").as("rnk"))
      },
      Some("""WITH sc AS (SELECT source,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000
        |            // len(string_split(text, ' ')) END AS score,
        |  doc_id FROM documents)
        |SELECT source, score, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        |FROM sc QUALIFY rnk <= 5""".stripMargin)
    )),

    // Simple Good–Turing smoothing (Gale & Sampson): the adjusted
    // frequencies r* = (r+1)·S(r+1)/S(r) with S the log-log OLS fit of the
    // counts-of-counts curve — the classical unseen-mass estimator over a
    // token frequency table (N1/N of the probability mass belongs to
    // unseen types). Distinct from text_kneser_ney (discount-interpolation
    // on bigrams): SGT smooths the count-of-count STATISTICS, and the
    // intercept cancels in r* — only the slope b survives, so
    // r* = (r+1)·((r+1)/r)^b. Determinism: ln(r), ln(Nr) pin to
    // fixed-point longs FIRST, the OLS moments are exact integer sums
    // (order-free), and b's double algebra runs on those identical
    // integers in both engines. Scale: the token count is one partial+final
    // aggregate; counts-of-counts is value-domain-bounded (≤ max token
    // frequency rows) — everything after the first groupBy is tiny.
    "text_good_turing" -> ((
      (s: SparkSession, dir: String) => {
        val cr = docs(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("r"))
        val nr = cr.groupBy("r").agg(count(lit(1)).as("n_r"))
        val fx = nr.select(col("r"), col("n_r"),
          floor(lit(1e6) * log(col("r").cast("double"))).cast("long").as("lr"),
          floor(lit(1e6) * log(col("n_r").cast("double"))).cast("long").as("lnr"))
        // OLS slope over exact integer moments; doubles only at the end
        val b = fx.agg(count(lit(1)).cast("double").as("m"),
            sum("lr").cast("double").as("sx"), sum("lnr").cast("double").as("sy"),
            sum(col("lr") * col("lnr")).cast("double").as("sxy"),
            sum(col("lr") * col("lr")).cast("double").as("sxx"))
          .select(((col("m") * col("sxy") - col("sx") * col("sy"))
            / (col("m") * col("sxx") - col("sx") * col("sx"))).as("b"))
        fx.select(col("r"), col("n_r")).crossJoin(broadcast(b))
          .select(col("r"), col("n_r"),
            floor(lit(1e6) * (col("r") + 1L)
              * exp(col("b") * (log((col("r") + 1L).cast("double"))
                - log(col("r").cast("double"))))).cast("long").as("rstar_x1e6"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE length(text) > 0),
        |cr AS (SELECT tok, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY 1),
        |nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM cr GROUP BY 1),
        |fx AS (SELECT r, n_r,
        |         CAST(floor(1e6 * ln(CAST(r AS DOUBLE))) AS BIGINT) AS lr,
        |         CAST(floor(1e6 * ln(CAST(n_r AS DOUBLE))) AS BIGINT) AS lnr FROM nr),
        |b AS (SELECT (CAST(count(*) AS DOUBLE) * CAST(sum(lr * lnr) AS DOUBLE)
        |              - CAST(sum(lr) AS DOUBLE) * CAST(sum(lnr) AS DOUBLE))
        |           / (CAST(count(*) AS DOUBLE) * CAST(sum(lr * lr) AS DOUBLE)
        |              - CAST(sum(lr) AS DOUBLE) * CAST(sum(lr) AS DOUBLE)) AS b FROM fx)
        |SELECT r, n_r,
        |  CAST(floor(1e6 * (r + 1) * exp(b.b * (ln(CAST(r + 1 AS DOUBLE))
        |    - ln(CAST(r AS DOUBLE))))) AS BIGINT) AS rstar_x1e6
        |FROM fx, b""".stripMargin)
    )),

    // Rendezvous (highest-random-weight) sharding: every key independently
    // scores all 8 shards with a replayable integer hash and lands on its
    // argmax — the assignment that moves only 1/n of keys when a shard is
    // added/removed (vs mod-n's full reshuffle), the standard scheme for
    // sticky shard routing of training-data writes. The argmax is per-row
    // array algebra (no explode, no per-key window, no shuffle before the
    // final bounded per-shard aggregate); all arithmetic is exact
    // mod-P integers, overflow-checked under ANSI.
    "q_rendezvous_shards" -> ((
      (s: SparkSession, dir: String) => {
        val o = Sources.table(s, dir, "orders")
        // the (key, s) hash must be NONLINEAR in its combination: any
        // affine score (key'·K1 + s·K2 mod P) has constant cross-shard
        // differences, so the winner depends only on which fixed interval
        // key'·K1 lands in — win probabilities become the offset-gap
        // lengths, not 1/n (measured: 2 shards took 72% of keys). One
        // multiplicative scramble then a modular SQUARE breaks the
        // affinity; the measured split is uniform within ±5%.
        val xs = transform(sequence(lit(0), lit(7)),
          sh => pmod((pmod(col("o_orderkey"), lit(1000000007L)) + sh.cast("long") * 7919L)
            * 2654435761L, lit(1000000007L)))
        val scores = transform(xs, x => pmod(x * x, lit(1000000007L)))
        o.select(col("o_orderkey"),
            (array_position(scores, array_max(scores)) - 1L).cast("long").as("shard"))
          .groupBy("shard")
          .agg(count(lit(1)).as("cnt"), min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
      },
      Some("""WITH sc AS (SELECT o_orderkey,
        |  list_transform(list_transform(range(0, 8),
        |      s -> (o_orderkey % 1000000007 + s * 7919) * 2654435761 % 1000000007),
        |    x -> x * x % 1000000007) AS l
        |  FROM orders),
        |a AS (SELECT o_orderkey,
        |        CAST(list_position(l, list_max(l)) - 1 AS BIGINT) AS shard FROM sc)
        |SELECT shard, CAST(count(*) AS BIGINT) AS cnt,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM a GROUP BY shard""".stripMargin)
    )),

    // Soft dedup: down-WEIGHT exact duplicates instead of dropping them —
    // every doc keeps weight 1/cluster_size so each distinct text
    // contributes unit mass to the training mixture (the reweighting
    // alternative to dedup_exact's keep-one, which preserves provenance
    // and per-copy metadata). Same md5-fingerprint hash-aggregate shape as
    // dedup_exact; the join back is fp-keyed (32-byte digests, never
    // text). Weight rides as an exact integer millionth.
    "dedup_soft_weights" -> ((
      (s: SparkSession, dir: String) => {
        val fps = docs(s, dir).select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
        val cs = fps.groupBy("fp").agg(count(lit(1)).as("csize"))
        fps.join(cs, "fp")
          .select(col("doc_id"), col("csize"),
            floor(lit(1000000L) / col("csize")).cast("long").as("w_x1e6"))
      },
      Some("""WITH fps AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |cs AS (SELECT fp, CAST(count(*) AS BIGINT) AS csize FROM fps GROUP BY 1)
        |SELECT doc_id, csize, 1000000 // csize AS w_x1e6
        |FROM fps JOIN cs USING (fp)""".stripMargin)
    )),

    // Heavy hitters via the Space-Saving sketch: top-10 tokens from a
    // buffer bounded at 4096 counters — at web scale this replaces the
    // exact token groupBy (billions of distinct keys) for head-only
    // questions. The fixture vocabulary is far below capacity, so the
    // sketch runs in its exact regime (err = 0 and estimates equal the
    // exact counts DuckDB recomputes — full-equality oracle); eviction
    // bounds are property-tested in SketchPropertySpec.
    "q_heavy_hitters" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val toks = docs(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok")).as[String]
        val agg = new graft.functions.SpaceSavingAgg(capacity = 4096, k = 10)
        toks.select(agg.toColumn).toDF("hh")
          .select(posexplode(col("hh")).as(Seq("i", "s")))
          .select(col("s._1").as("tok"), col("s._2").as("est"),
            col("s._3").as("err"), (col("i") + 1).cast("long").as("rnk"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents WHERE length(text) > 0),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS est FROM tok GROUP BY 1)
        |SELECT tok, est, CAST(0 AS BIGINT) AS err,
        |       CAST(row_number() OVER (ORDER BY est DESC, tok) AS BIGINT) AS rnk
        |FROM f QUALIFY rnk <= 10""".stripMargin)
    )),

    // Canonicalize-then-dedup: exact dedup over the normalized text — the
    // composition production pipelines run first (case/whitespace variants
    // are the most common duplicate class and Jaccard-invisible). Same
    // hash-aggregate shape as dedup_exact; the shuffle carries md5s, never
    // text.
    "dedup_exact_normalized" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.exact(TextAnalysis.normalize(docs(s, dir))
          .select(col("doc_id"), col("norm_text").as("text"))),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS dup_cnt
        |FROM documents
        |GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))""".stripMargin)
    )),

    "text_fingerprint" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.fingerprints(docs(s, dir)).select(col("doc_id"), col("md5_fp")),
      Some("SELECT doc_id, md5(text) AS md5_fp FROM documents")
    )),

    // Language ID heuristic: trigram-profile hit counts + argmax. Fully
    // deterministic substring algebra, so DuckDB reproduces it exactly; the
    // tie-break (greatest over (score, lang) structs → lexicographically
    // largest lang among tied max scores) is spelled out in the CASE chain.
    // (The rolling_fp it used to ride along with is xxhash64-chained — not
    // DuckDB-expressible — and is covered by DedupSpec order-sensitivity.)
    "text_langid" -> ((
      (s: SparkSession, dir: String) => TextAnalysis.languageId(docs(s, dir)),
      Some(s"""WITH ${OracleSql.langidScores}
        |SELECT doc_id,
        |  CASE WHEN s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS predicted_lang,
        |  labeled_lang
        |FROM sc""".stripMargin)
    )),

    // Classifier evaluation for the langid heuristic: the confusion
    // matrix against the gold lang column — the same measured-quality
    // pattern as ann_recall_eval (an eval you can trust because the
    // classifier itself replays exactly in SQL). Diagonal mass = correct;
    // 'fr' has no scoring rule, so its row documents the known blind spot
    // instead of hiding it.
    "text_langid_confusion" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.languageId(docs(s, dir))
          .groupBy("labeled_lang", "predicted_lang")
          .agg(count(lit(1)).as("cnt")),
      Some(s"""WITH ${OracleSql.langidScores},
        |p AS (SELECT labeled_lang,
        |  CASE WHEN s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS predicted_lang
        |FROM sc)
        |SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2""".stripMargin)
    )),

    // Multimodal: binary media column + typed metadata (decode stubbed).
    "media_meta" -> ((
      (s: SparkSession, dir: String) =>
        Multimodal.withMediaColumns(docs(s, dir)).select(
          col("doc_id"), col("meta.mime").as("mime"),
          length(col("media")).cast("long").as("byte_len"),
          md5(col("media")).as("media_md5")),
      Some("""SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg' ELSE 'audio/wav' END AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS media_md5
        |FROM documents""".stripMargin)
    )),

    // Frame-sampling work plan: deterministic (doc, frame_idx, ts) rows a
    // decoder stage consumes — 1 fps, capped at 32 frames.
    "media_frame_plan" -> ((
      (s: SparkSession, dir: String) =>
        Multimodal.framePlan(Multimodal.withMediaColumns(docs(s, dir))),
      Some("""WITH m AS (SELECT doc_id,
        |  CAST(least((doc_id % 1000) * 40 // 1000, 32) AS BIGINT) AS n FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx, CAST(i * 1000 AS BIGINT) AS frame_ts_ms
        |FROM (SELECT doc_id, unnest(range(0, n)) AS i FROM m WHERE n >= 1)""".stripMargin)
    )),

    // Normalization: the canonical pre-dedup cleanup.
    "text_normalize" -> ((
      (s: SparkSession, dir: String) => TextAnalysis.normalize(docs(s, dir)),
      Some("""SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin)
    )),

    // Batched feature extraction over media bytes. The float feature vector
    // itself is not hash-comparable across engines, so the catalog entry
    // emits the extractor's integer evidence (16-bin byte histogram)
    // exploded to (doc_id, byte_len, bin, cnt) — deterministic integer math
    // with a full DuckDB oracle. Zero bins are filtered on both sides.
    "media_features" -> ((
      (s: SparkSession, dir: String) => {
        val media = Multimodal.asMediaDataset(Multimodal.withMediaColumns(docs(s, dir)))
        Multimodal.extractFeatures(media).toDF()
          .select(col("doc_id"), col("byte_len").cast("long").as("byte_len"),
            posexplode(col("bins")).as(Seq("bin", "cnt")))
          .filter(col("cnt") > 0)
          .select(col("doc_id"), col("byte_len"),
            col("bin").cast("long").as("bin"), col("cnt"))
      },
      // bin = high nibble of each byte = the odd-position hex digits of
      // hex(encode(text)); strpos('123456789ABCDEF', d) maps digit→value
      // with '0' falling through to 0 (not found).
      Some("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n FROM documents),
        |u AS (SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM h),
        |b AS (SELECT doc_id, n,
        |  CAST(strpos('123456789ABCDEF', substr(hx, CAST(2*i+1 AS INT), 1)) AS BIGINT) AS bin
        |  FROM u)
        |SELECT doc_id, n AS byte_len, bin, CAST(count(*) AS BIGINT) AS cnt
        |FROM b GROUP BY 1, 2, 3""".stripMargin)
    )),

    // --- Real image-content operators (graft.operators.Imaging) -------
    // Each doc gets a deterministic grayscale bitmap (pixel formula in the
    // Imaging scaladoc), serialized by a HAND-WRITTEN BMP encoder and
    // decoded back through the real javax.imageio codec. The oracles
    // recompute every output from the pixel formula alone — they never see
    // the bytes — so a container-writer or codec-path bug is a hash
    // mismatch, not a silent agreement.

    // Decode → dimensions + pixel sum, variable-size images. Proves the
    // real ImageIO decode path returns exactly the pixels that were
    // encoded (width/height from the decoder, sum over decoded pixels).
    "media_decode_meta" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.decodedMeta(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
        |  16 + doc_id % 24 AS w, 12 + doc_id % 18 AS h FROM documents),
        |xs AS (SELECT doc_id, s, w, h, unnest(range(0, w)) AS x FROM d),
        |px AS (SELECT doc_id, s, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(sum((s*31 + x*7 + y*13 + x*y*(s+3)
        |    + CASE WHEN doc_id % 5 = 0 AND x = y AND x < 6 THEN 96 ELSE 0 END) % 256) AS BIGINT) AS pix_sum
        |FROM px GROUP BY 1, 2, 3""".stripMargin)
    )),

    // Perceptual hashes from DECODED pixels: dHash (2×2-block gradient
    // direction over a 9×8 grid) + aHash (64·block > Σblocks) — all
    // integer block sums, bit-exact in both engines.
    "media_dhash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.imageHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some(dhashOracleCte +
        """SELECT dh.doc_id, dh.dhash, ah.ahash
          |FROM dh JOIN ah ON dh.doc_id = ah.doc_id""".stripMargin)
    )),

    // Orientation-invariant perceptual hash: a mirrored or upside-down
    // re-upload reverses gradient directions, so plain dHash misses it;
    // the canonical form min over the four axis-aligned orientations
    // (identity, horizontal mirror, vertical flip, 180°) collides them
    // all. The mirror hash comes from the SAME block sums (mirroring
    // maps block bx → 8−bx); the vertical pair are pure row (byte)
    // permutations — one decode total. The oracle recomputes every
    // orientation from the pixel formula at the BIT level (row by →
    // 7−by for the vertical pair), never bit-twiddling signed longs.
    "media_dhash_flip" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.flipInvariantHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some(dhashOracleCte +
        """,cmpm AS (SELECT a.doc_id, 8 - a.bx AS bx, a.by,
          |         CASE WHEN a.bs > b.bs THEN 1 ELSE 0 END AS bit
          |       FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.by = b.by
          |         AND b.bx = a.bx - 1
          |       WHERE a.bx >= 1),
          |dhm AS (SELECT doc_id,
          |         bit_or(CASE WHEN bit = 1 AND by*8 + bx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
          |                     WHEN bit = 1 THEN CAST(1 AS BIGINT) << CAST(by*8 + bx AS INT)
          |                     ELSE CAST(0 AS BIGINT) END) AS h
          |       FROM cmpm GROUP BY doc_id),
          |dhv AS (SELECT doc_id,
          |         bit_or(CASE WHEN bit = 1 AND (7-by)*8 + bx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
          |                     WHEN bit = 1 THEN CAST(1 AS BIGINT) << CAST((7-by)*8 + bx AS INT)
          |                     ELSE CAST(0 AS BIGINT) END) AS h
          |       FROM cmp GROUP BY doc_id),
          |dhr AS (SELECT doc_id,
          |         bit_or(CASE WHEN bit = 1 AND (7-by)*8 + bx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
          |                     WHEN bit = 1 THEN CAST(1 AS BIGINT) << CAST((7-by)*8 + bx AS INT)
          |                     ELSE CAST(0 AS BIGINT) END) AS h
          |       FROM cmpm GROUP BY doc_id)
          |SELECT dh.doc_id, dh.dhash, dhm.h AS dhash_mirror,
          |  dhv.h AS dhash_flip_v, dhr.h AS dhash_rot180,
          |  least(dh.dhash, dhm.h, dhv.h, dhr.h) AS dhash_canon
          |FROM dh JOIN dhm USING (doc_id) JOIN dhv USING (doc_id)
          |  JOIN dhr USING (doc_id)""".stripMargin)
    )),

    // Format sniffing over a MIXED binary column — the dispatch a real
    // ingest pipeline runs before any decode: each doc carries one of
    // the five REAL container payloads (doc_id % 5 → BMP / PNG / JPEG /
    // GIF / WAV, all from the actual encoders), and magic-byte tests
    // with Spark binary functions recover the format without decoding.
    // The oracle replays the planting rule, so every encoder's header
    // AND the dispatcher's precedence are checked per row.
    "media_format_sniff" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Multimodal.mixedContainers(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
          .select(col("doc_id"),
            when(expr("hex(substring(media, 1, 2))") === "424D", "bmp")
              .when(expr("hex(substring(media, 1, 8))") === "89504E470D0A1A0A", "png")
              .when(expr("hex(substring(media, 1, 2))") === "FFD8", "jpeg")
              .when(expr("hex(substring(media, 1, 3))") === "474946", "gif")
              .when(expr("hex(substring(media, 1, 4))") === "52494646" &&
                expr("hex(substring(media, 9, 4))") === "57415645", "wav")
              .otherwise("unknown").as("format"))
      },
      Some("""SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg'
        |    WHEN 3 THEN 'gif' ELSE 'wav' END AS format
        |FROM documents""".stripMargin)
    )),

    // CROSS-MODAL dup evidence — the agreement table between the text
    // near-dup graph and the image perceptual-hash near-dup graph over
    // the same corpus: a pair flagged in BOTH modalities is the
    // strongest dedup candidate there is; single-modality pairs are the
    // triage queue (template text with fresh images, re-encoded images
    // with rewritten captions). Full-outer join of two ids-only pair
    // relations; the oracle replays both generators (shingle Jaccard +
    // pixel-formula dHash banding) and the join.
    "media_text_dup_agreement" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = docs(s, dir)
        val txt = Dedup.ngramJaccardPairs(d, n = 3, pct = 80, maxDf = 0)
          .select(col("doc_a"), col("doc_b"), lit(true).as("in_text"))
        val img = Imaging.dhashNearDupPairs(
            Imaging.imageHashes(d.select(col("doc_id")).as[Long]).toDF(),
            maxHamming = 16)
          .select(col("doc_a"), col("doc_b"), lit(true).as("in_image"))
        txt.join(img, Seq("doc_a", "doc_b"), "full_outer")
          .select(col("doc_a"), col("doc_b"),
            coalesce(col("in_text"), lit(false)).as("in_text"),
            coalesce(col("in_image"), lit(false)).as("in_image"))
      },
      Some(dhashOracleCte +
        """,bands AS (SELECT doc_id, dhash, unnest(range(0, 4)) AS band FROM dh),
          |bk0 AS (SELECT doc_id, dhash, (dhash >> CAST(16*band AS INT)) & 65535 AS bv, band FROM bands),
          |hotb AS (SELECT band, bv FROM bk0 GROUP BY band, bv HAVING count(*) > 1000),
          |bk AS (SELECT * FROM bk0 WHERE NOT EXISTS (
          |  SELECT 1 FROM hotb WHERE hotb.band = bk0.band AND hotb.bv = bk0.bv)),
          |icand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.dhash AS ha, b.dhash AS hb
          |         FROM bk a JOIN bk b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
          |ipairs AS (SELECT doc_a, doc_b FROM icand
          |  WHERE bit_count(xor(ha, hb)) <= 16),
          |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
          |sh2 AS (SELECT DISTINCT doc_id, CAST(len(t[i]) AS VARCHAR) || ':' || t[i] || CAST(len(t[i+1]) AS VARCHAR) || ':' || t[i+1] || CAST(len(t[i+2]) AS VARCHAR) || ':' || t[i+2] AS s FROM u),
          |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh2 GROUP BY doc_id),
          |prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
          |  FROM sh2 a JOIN sh2 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |tpairs AS (SELECT doc_a, doc_b FROM prs p
          |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
          |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common))
          |SELECT coalesce(t.doc_a, i.doc_a) AS doc_a,
          |  coalesce(t.doc_b, i.doc_b) AS doc_b,
          |  t.doc_a IS NOT NULL AS in_text,
          |  i.doc_a IS NOT NULL AS in_image
          |FROM tpairs t FULL OUTER JOIN ipairs i
          |  ON t.doc_a = i.doc_a AND t.doc_b = i.doc_b""".stripMargin)
    )),

    // Container-header schema-on-read: real ImageIO PNG encode, then the
    // IHDR width/height and signature parsed back out of the BYTES with
    // Spark binary functions (substring/hex/conv) — the path a pipeline
    // takes to extract metadata from foreign media without full decode.
    "media_png_header" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.pngColumn(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
          .select(col("doc_id"),
            expr("CAST(conv(hex(substring(png, 17, 4)), 16, 10) AS BIGINT)").as("png_w"),
            expr("CAST(conv(hex(substring(png, 21, 4)), 16, 10) AS BIGINT)").as("png_h"),
            (expr("hex(substring(png, 1, 8))") === lit("89504E470D0A1A0A")).as("sig_ok"))
      },
      Some("""SELECT doc_id, CAST(16 + doc_id % 24 AS BIGINT) AS png_w,
        |  CAST(12 + doc_id % 18 AS BIGINT) AS png_h, true AS sig_ok
        |FROM documents""".stripMargin)
    )),

    // Near-duplicate images via band-LSH on dHash: 4 bands × 16 bits,
    // candidates share an exact band, survivors have hamming ≤ 16. The
    // shuffle carries (band, doc_id, hash) — never pixels. Output is the
    // (hamming, pair_cnt) histogram; the planted doc_id%256 classes give
    // exact dups (hamming 0) and the diagonal-bump variants small-hamming
    // near-dups.
    "media_dhash_neardup" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.dhashNearDupHistogram(
          Imaging.imageHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF())
      },
      Some(dhashOracleCte +
        """,bands AS (SELECT doc_id, dhash, unnest(range(0, 4)) AS band FROM dh),
          |bk0 AS (SELECT doc_id, dhash, (dhash >> CAST(16*band AS INT)) & 65535 AS bv, band FROM bands),
          |hotb AS (SELECT band, bv FROM bk0 GROUP BY band, bv HAVING count(*) > 1000),
          |bk AS (SELECT * FROM bk0 WHERE NOT EXISTS (
          |  SELECT 1 FROM hotb WHERE hotb.band = bk0.band AND hotb.bv = bk0.bv)),
          |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.dhash AS ha, b.dhash AS hb
          |         FROM bk a JOIN bk b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
          |ham AS (SELECT CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM cand)
          |SELECT hamming, CAST(count(*) AS BIGINT) AS pair_cnt
          |FROM ham WHERE hamming <= 16 GROUP BY hamming""".stripMargin)
    )),

    // DCT pHash from DECODED pixels: 2D DCT over the 8×8 block sums with
    // an integer-scaled basis HARDCODED identically on both sides
    // (Imaging.DctBasis = the VALUES table below), bit = AC coefficient >
    // median-of-63 (quantile_disc(0.5) == sorted index 31 on both
    // engines). Pure integer matmul — bit-exact with no cosine rounding
    // dependence.
    "media_phash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.imagePHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some(dhashOracleCte +
        s""",${OracleSql.dctBasis},
          |dct AS (SELECT b.doc_id, ku.u AS u, kv.u AS v,
          |          CAST(sum(b.bs * ku.k * kv.k) AS BIGINT) AS dcoef
          |        FROM blk b
          |        JOIN kt ku ON ku.x = b.bx
          |        JOIN kt kv ON kv.x = b.by
          |        WHERE b.bx < 8
          |        GROUP BY 1, 2, 3),
          |med AS (SELECT doc_id, quantile_disc(dcoef, 0.5) AS med
          |        FROM dct WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id)
          |SELECT dct.doc_id,
          |  bit_or(CASE WHEN (u != 0 OR v != 0) AND dcoef > med AND v*8 + u = 63 THEN CAST(-9223372036854775808 AS BIGINT)
          |              WHEN (u != 0 OR v != 0) AND dcoef > med THEN CAST(1 AS BIGINT) << CAST(v*8 + u AS INT)
          |              ELSE CAST(0 AS BIGINT) END) AS phash
          |FROM dct JOIN med USING (doc_id) GROUP BY dct.doc_id""".stripMargin)
    )),

    // Image-level dedup end-to-end — the task perceptual hashes exist
    // for: decode → dHash → band-LSH pairs → connected components →
    // keep the min-id representative per cluster. Cross-family
    // composition (Imaging pairs + Dedup.connectedComponents), recursive
    // -CTE closure oracle over the SQL-replayed pair set.
    "media_dedup_representatives" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val ids = docs(s, dir).select(col("doc_id")).as[Long]
        // eager checkpoint: the band self-join references the hash
        // relation twice and the CC init once more — without truncation
        // each reference re-runs the codec decode of the whole corpus;
        // the materialized relation is 24 bytes/doc
        val hashes = Imaging.imageHashes(ids).toDF().localCheckpoint(true)
        val pairs = Imaging.dhashNearDupPairs(hashes)
        val cc = Dedup.connectedComponents(pairs.select("doc_a", "doc_b"))
        docs(s, dir).select(col("doc_id"))
          .join(cc.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
            Seq("doc_id"), "left_anti")
      },
      Some("WITH RECURSIVE " + dhashOracleCte.stripPrefix("WITH ") +
        """,bands AS (SELECT doc_id, dhash, unnest(range(0, 4)) AS band FROM dh),
          |bk0 AS (SELECT doc_id, dhash, (dhash >> CAST(16*band AS INT)) & 65535 AS bv, band FROM bands),
          |hotb AS (SELECT band, bv FROM bk0 GROUP BY band, bv HAVING count(*) > 1000),
          |bk AS (SELECT * FROM bk0 WHERE NOT EXISTS (
          |  SELECT 1 FROM hotb WHERE hotb.band = bk0.band AND hotb.bv = bk0.bv)),
          |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.dhash AS ha, b.dhash AS hb
          |         FROM bk a JOIN bk b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
          |np AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= 16),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM np
          |          UNION SELECT doc_b, doc_a FROM np),
          |reach AS (
          |  SELECT a AS node, b AS r FROM edges
          |  UNION
          |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
          |cc AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node)
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT node FROM cc WHERE node != cluster_id)""".stripMargin)
    )),

    // Streaming incremental media dedup, batch twin: every tenth doc is
    // the accepted corpus (its dHash index); the rest are the incoming
    // stream, dropped when a band-LSH match at hamming ≤ 16 exists in
    // the corpus index. The SAME Imaging.dhashMatchedIds cross-relation
    // join runs per micro-batch inside
    // [[graft.streaming.StreamOps.mediaDedupAgainstCorpus]], which
    // StreamingSpec drives over MemoryStream batches and checks for
    // parity with this batch result. Oracle replays formula → dHash →
    // band join → anti-join.
    // Paragraph-containment streaming dedup, batch analog (the SIXTH
    // streaming modality; StreamOps.paragraphDedupAgainstCorpus drives
    // the same Dedup.paragraphMatchedIds per micro-batch, StreamingSpec
    // proves parity): corpus index = every tenth doc's distinct
    // 10-token-paragraph md5 set; an incoming doc drops when ≥ 60% of
    // its paragraphs are already indexed — containment, so a doc
    // assembled from known boilerplate drops without a verbatim match.
    // Exact duplicates of corpus docs sit at 100% containment; fresh
    // text at ~0%. Ids + 16-byte hashes only in every shuffle.
    "stream_paragraph_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val corpusPh = Dedup.paragraphHashes(d.filter(pmod(col("doc_id"), lit(10)) === 0))
          .select(col("ph")).distinct()
        val incoming = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val matched = Dedup.paragraphMatchedIds(corpusPh,
          Dedup.paragraphHashes(incoming), dropPm = 600)
        incoming.select(col("doc_id")).join(matched, Seq("doc_id"), "left_anti")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |p AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[CAST(i * 10 + 1 AS INT):CAST(i * 10 + 10 AS INT)], ' ')) AS ph
        |  FROM t, unnest(range(0, (len(t) + 9) // 10)) AS u(i)),
        |corp AS (SELECT DISTINCT ph FROM p WHERE doc_id % 10 = 0),
        |inc AS (SELECT doc_id, ph FROM p WHERE doc_id % 10 != 0),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN ph IN (SELECT ph FROM corp) THEN 1 ELSE 0 END) AS BIGINT) AS shared
        |  FROM inc GROUP BY 1),
        |drp AS (SELECT doc_id FROM per WHERE shared * 1000 >= 600 * total)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 != 0 AND doc_id NOT IN (SELECT doc_id FROM drp)""".stripMargin)
    )),

    // Winnowing-fingerprint streaming dedup, batch analog (the SEVENTH
    // streaming modality; StreamOps.winnowingDedupAgainstCorpus drives
    // the same Dedup.winnowingMatchedIds per micro-batch, StreamingSpec
    // proves parity): corpus index = every tenth doc's distinct
    // window-minimum k-gram hashes (8 bytes each, ~2/(w+1) of the
    // k-grams); an incoming doc drops when ≥ 60% of its fingerprints
    // are already indexed. Winnowing's detection floor makes the
    // containment POSITION-ROBUST — a doc stitched from known
    // ≥ w+k−1-token passages drops even when no paragraph boundary
    // aligns (the case stream_paragraph_dedup's block-aligned hashes
    // miss). Ids + 8-byte fingerprints only in every shuffle.
    "stream_winnowing_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val corpusFp = Dedup.winnowingFingerprints(
            d.filter(pmod(col("doc_id"), lit(10)) === 0))
          .select(col("fp")).distinct()
        val incoming = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        val matched = Dedup.winnowingMatchedIds(corpusFp,
          Dedup.winnowingFingerprints(incoming), dropPm = 600)
        incoming.select(col("doc_id")).join(matched, Seq("doc_id"), "left_anti")
      },
      Some(s"""WITH ${OracleSql.winnowingFingerprints},
        |corp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 = 0),
        |inc AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 != 0),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN fp IN (SELECT fp FROM corp) THEN 1 ELSE 0 END) AS BIGINT) AS shared
        |  FROM inc GROUP BY 1),
        |drp AS (SELECT doc_id FROM per WHERE shared * 1000 >= 600 * total)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 != 0 AND doc_id NOT IN (SELECT doc_id FROM drp)""".stripMargin)
    )),

    "stream_media_dedup" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = docs(s, dir).select(col("doc_id"))
        val corpusHs = Imaging.imageHashes(
          d.filter(col("doc_id") % 10 === 0).as[Long]).toDF()
        val incoming = d.filter(col("doc_id") % 10 =!= 0)
        val matched = Imaging.dhashMatchedIds(corpusHs,
          Imaging.imageHashes(incoming.as[Long]).toDF())
        incoming.join(matched, Seq("doc_id"), "left_anti")
      },
      Some(dhashOracleCte +
        """,corp AS (SELECT doc_id, dhash FROM dh WHERE doc_id % 10 = 0),
          |inc AS (SELECT doc_id, dhash FROM dh WHERE doc_id % 10 != 0),
          |cb0 AS (SELECT doc_id, dhash, (dhash >> CAST(16*band AS INT)) & 65535 AS bv, band
          |       FROM (SELECT doc_id, dhash, unnest(range(0, 4)) AS band FROM corp)),
          |hotc AS (SELECT band, bv FROM cb0 GROUP BY band, bv HAVING count(*) > 1000),
          |cb AS (SELECT * FROM cb0 WHERE NOT EXISTS (
          |  SELECT 1 FROM hotc WHERE hotc.band = cb0.band AND hotc.bv = cb0.bv)),
          |ib AS (SELECT doc_id, dhash, (dhash >> CAST(16*band AS INT)) & 65535 AS bv, band
          |       FROM (SELECT doc_id, dhash, unnest(range(0, 4)) AS band FROM inc)),
          |m AS (SELECT DISTINCT i.doc_id FROM ib i JOIN cb c
          |      ON i.band = c.band AND i.bv = c.bv
          |      WHERE bit_count(xor(i.dhash, c.dhash)) <= 16)
          |SELECT doc_id FROM inc
          |WHERE doc_id NOT IN (SELECT doc_id FROM m)""".stripMargin)
    )),

    // Audio twin of stream_media_dedup: corpus = every tenth doc's
    // spectral fingerprint; incoming docs drop on a band-LSH match at
    // hamming ≤ 8 — tighter than the image threshold because 64
    // sign-bits carry less entropy than a gradient dHash (cross-class
    // waveforms share formula structure); the planted near-dups sit at
    // hamming 1-5, well inside. Same cross-relation join
    // (Imaging.dhashMatchedIds over the afp column), driven per
    // micro-batch by StreamOps.audioDedupAgainstCorpus (StreamingSpec
    // parity test). Oracle replays waveform → DCT signs → banding →
    // anti-join.
    "stream_audio_dedup" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = docs(s, dir).select(col("doc_id"))
        val corpusFps = Audio.spectralFingerprints(
          d.filter(col("doc_id") % 10 === 0).as[Long]).toDF()
        val incoming = d.filter(col("doc_id") % 10 =!= 0)
        val matched = Imaging.dhashMatchedIds(corpusFps,
          Audio.spectralFingerprints(incoming.as[Long]).toDF(),
          maxHamming = 8, hashCol = "afp")
        incoming.join(matched, Seq("doc_id"), "left_anti")
      },
      Some(s"""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s FROM documents),
        |u AS (SELECT doc_id, s, unnest(range(0, 256)) AS i FROM d),
        |${OracleSql.audioFingerprints},
        |corp AS (SELECT doc_id, afp FROM fp WHERE doc_id % 10 = 0),
        |inc AS (SELECT doc_id, afp FROM fp WHERE doc_id % 10 != 0),
        |cb0 AS (SELECT doc_id, afp, (afp >> CAST(16*band AS INT)) & 65535 AS bv, band
        |       FROM (SELECT doc_id, afp, unnest(range(0, 4)) AS band FROM corp)),
        |hotc AS (SELECT band, bv FROM cb0 GROUP BY band, bv HAVING count(*) > 1000),
        |cb AS (SELECT * FROM cb0 WHERE NOT EXISTS (
        |  SELECT 1 FROM hotc WHERE hotc.band = cb0.band AND hotc.bv = cb0.bv)),
        |ib AS (SELECT doc_id, afp, (afp >> CAST(16*band AS INT)) & 65535 AS bv, band
        |       FROM (SELECT doc_id, afp, unnest(range(0, 4)) AS band FROM inc)),
        |m AS (SELECT DISTINCT i.doc_id FROM ib i JOIN cb c
        |      ON i.band = c.band AND i.bv = c.bv
        |      WHERE bit_count(xor(i.afp, c.afp)) <= 8)
        |SELECT doc_id FROM inc
        |WHERE doc_id NOT IN (SELECT doc_id FROM m)""".stripMargin)
    )),

    // Embedding twin of stream_media_dedup — the fourth member of the
    // streaming incremental-dedup quartet (text shingles, image dHash,
    // audio fingerprint, embedding cosine): corpus = every tenth vector;
    // incoming vectors drop when Dedup.embeddingMatchedIds finds a corpus
    // neighbor at cosine ≥ 0.45 through the shared hyperplane-LSH band
    // index. The signature bank is seeded-xorshift (not SQL-expressible),
    // so the entry materializes its correctness contract as verdict rows
    // (the dedup_embedding_lsh pattern): matched ⊆ incoming, and
    // survivors + matched partition the incoming set — both LINEAR-cost
    // invariants of the production matcher. The brute-force
    // precision/recall witness lives in the DECLARED twin
    // `stream_embedding_dedup_recall` (benched apart — the r10 verdict
    // flagged the corpus × incoming cross join riding inside this
    // production entry). StreamOps.embeddingDedupAgainstCorpus runs the
    // same matcher per micro-batch (StreamingSpec parity test).
    "stream_embedding_dedup" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        val tau = 0.45
        val corpus = e.filter(col("vec_id") % 10 === 0)
        val incoming = e.filter(col("vec_id") % 10 =!= 0)
          .eagerPersisted
        val matched = Dedup.embeddingMatchedIds(corpus, incoming, dim = 64, tau,
            rowsPerBand = 6, bands = 20)
          .eagerPersisted
        val total = incoming.agg(count(lit(1)).as("value"))
          .select(lit("incoming_vectors").as("metric"), col("value").cast("long").as("value"))
        val subset = matched.join(incoming, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("matched_outside_incoming").as("metric"),
            col("value").cast("long").as("value"))
        val partition = incoming.join(matched, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("s"))
          .crossJoin(matched.agg(count(lit(1)).as("m")))
          .crossJoin(incoming.agg(count(lit(1)).as("n")))
          .select(lit("survivors_plus_matched_is_incoming").as("metric"),
            (col("s") + col("m") === col("n")).cast("long").as("value"))
        total.unionAll(subset).unionAll(partition)
      },
      Some("""SELECT 'incoming_vectors' AS metric,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 10 != 0) AS BIGINT) AS value
        |UNION ALL SELECT 'matched_outside_incoming', CAST(0 AS BIGINT)
        |UNION ALL SELECT 'survivors_plus_matched_is_incoming', CAST(1 AS BIGINT)""".stripMargin)
    )),

    // DECLARED brute-force witness twin of stream_embedding_dedup (the
    // ann_bruteforce_topk pattern): the corpus × incoming cross join that
    // re-verifies the LSH matcher's precision (every emitted match ⊆ the
    // exact cosine match set) and recall floor (≥ 50 % of true matches
    // found). Deliberately quadratic — it GATES the production path and
    // is benched apart under Bench.oracleTwins; the scale path never runs
    // it (at 100 TB this audit runs on a fixed probe sample, the
    // er-evaluation discipline).
    "stream_embedding_dedup_recall" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        val tau = 0.45
        val corpus = e.filter(col("vec_id") % 10 === 0)
        val incoming = e.filter(col("vec_id") % 10 =!= 0)
          .eagerPersisted
        val matched = Dedup.embeddingMatchedIds(corpus, incoming, dim = 64, tau,
            rowsPerBand = 6, bands = 20)
          .eagerPersisted
        graft.functions.GraftFunctions.register(s)
        val brute = incoming.as("b")
          .crossJoin(corpus.select(col("vec_id").as("cid"),
            col("embedding").as("c_emb")))
          .filter(call_function("cosine_sim", col("b.embedding"), col("c_emb")) >= tau)
          .select(col("b.vec_id")).distinct()
        val prec = matched.join(brute, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("value"))
          .select(lit("precision_violations").as("metric"), col("value").cast("long").as("value"))
        val recall = matched.agg(count(lit(1)).as("f"))
          .crossJoin(brute.agg(count(lit(1)).as("t")))
          .select(lit("recall_floor_50_met").as("metric"),
            (col("f") * 100 >= col("t") * 50).cast("long").as("value"))
        prec.unionAll(recall)
      },
      Some("""SELECT 'precision_violations' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'recall_floor_50_met', CAST(1 AS BIGINT)""".stripMargin)
    )),

    // Lossy-codec triage — the codec real corpora actually use: real
    // ImageIO JPEG encode (TYPE_BYTE_GRAY, q=0.95) of the formula bitmap,
    // real decode back. Geometry (decoder-reported width/height/bands) is
    // EXACT even under a lossy codec; pixel fidelity is tolerance-banded
    // (mean |err| ≤ 3.0 levels ×1000, max |err| ≤ 24; measured worst over
    // the corpus: 1.703 and 9 — ≥1.7× margin). The verdict-column
    // pattern: the oracle states the verdicts as constants, so codec
    // drift beyond the band flips a boolean and fails the hash compare.
    "media_jpeg_meta" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.jpegMeta(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some("""SELECT doc_id, CAST(16 + doc_id % 24 AS BIGINT) AS width,
        |  CAST(12 + doc_id % 18 AS BIGINT) AS height, CAST(1 AS BIGINT) AS n_bands,
        |  true AS mean_err_x1000_le_3000, true AS max_err_le_24
        |FROM documents""".stripMargin)
    )),

    // Hash re-encode robustness — the property perceptual hashes exist
    // for, measured instead of asserted: dHash/pHash of the same canvas
    // via lossless BMP decode vs a JPEG roundtrip; bit flips banded at
    // 24/20 (probe-measured corpus worst: 16/12). The lossless dhash
    // column is EXACT against the formula oracle, pinning the stable
    // path while the verdicts pin the lossy envelope.
    "media_jpeg_hash_robustness" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.jpegHashRobustness(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some(dhashOracleCte +
        """SELECT doc_id, dhash, true AS dflips_le_24, true AS pflips_le_20
          |FROM dh""".stripMargin)
    )),

    // EXIF APP-segment schema-on-read: a hand-written EXIF APP1 (TIFF
    // little-endian, IFD entries ImageWidth + Orientation) is spliced
    // right after the JPEG SOI so it sits at fixed offsets, then parsed
    // back out of the BYTES with Spark binary functions — SOI+APP1
    // marker, "Exif\0\0" id, "II" byte order, IFD entry count, and the
    // little-endian tag values — without any image decode. The
    // orientation formula (1 + doc_id % 8) is the planted metadata the
    // oracle recomputes.
    "media_exif_triage" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        def leBytes(off: Int, n: Int): Column = (0 until n).map { i =>
          expr(s"CAST(conv(hex(substring(jpeg, ${off + i}, 1)), 16, 10) AS BIGINT)") *
            lit(1L << (8 * i))
        }.reduce(_ + _)
        Imaging.jpegExifColumn(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
          .select(col("doc_id"),
            (expr("hex(substring(jpeg, 1, 4))") === lit("FFD8FFE1")).as("app1_ok"),
            (expr("hex(substring(jpeg, 7, 6))") === lit("457869660000")).as("exif_ok"),
            (expr("hex(substring(jpeg, 13, 4))") === lit("49492A00")).as("tiff_le_ok"),
            leBytes(21, 2).as("ifd_entries"),
            leBytes(31, 4).as("exif_width"),
            leBytes(43, 2).as("orientation"))
      },
      Some("""SELECT doc_id, true AS app1_ok, true AS exif_ok, true AS tiff_le_ok,
        |  CAST(2 AS BIGINT) AS ifd_entries,
        |  CAST(16 + doc_id % 24 AS BIGINT) AS exif_width,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation
        |FROM documents""".stripMargin)
    )),

    // Audio twin of media_decode_meta: hand-written RIFF/WAV container →
    // real javax.sound decode → the format fields the DECODER parsed
    // (sample rate / channels / bits / frame count), oracle-checked
    // against the synthesis formula.
    "media_wav_meta" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Audio.wavMeta(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some("""SELECT doc_id, CAST(8000 + (doc_id % 2) * 8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        |  CAST(400 + (doc_id % 100) * 8 AS BIGINT) AS n_frames
        |FROM documents""".stripMargin)
    )),

    // PCM content stats over DECODED samples — the silence/clipping/energy
    // screens of audio curation: amplitude sum, peak |amp|, zero-crossing
    // count. All integers; the oracle replays the waveform formula with a
    // lag() window for the sign flips.
    "media_pcm_stats" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Audio.pcmStats(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
        |  400 + (doc_id % 100) * 8 AS n FROM documents),
        |u AS (SELECT doc_id, s, unnest(range(0, n)) AS i FROM d),
        |a AS (SELECT doc_id, i, ((s + 1) * ((i*i) % 97) + 13*i) % 4001 - 2000
        |  + CASE WHEN doc_id % 5 = 0 AND i < 24 THEN 1500 ELSE 0 END AS amp FROM u),
        |z AS (SELECT doc_id, amp, lag(amp) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM a)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(amp) AS BIGINT) AS sum_amp,
        |  CAST(max(abs(amp)) AS BIGINT) AS max_abs,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND (amp >= 0) != (prev >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM z GROUP BY doc_id""".stripMargin)
    )),

    // Energy-gated activity screen (Audio.vadStats) — silence trimming's
    // decision layer: full 64-sample windows of decoded PCM, active when
    // Σ|amp| > 66 000, segments = maximal active runs (gaps-and-islands
    // over the window sequence). The oracle replays window energies from
    // the waveform formula and rebuilds the runs with the islands trick.
    "media_audio_vad" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Audio.vadStats(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
        |  400 + (doc_id % 100) * 8 AS n FROM documents),
        |u AS (SELECT doc_id, s, n, unnest(range(0, (n // 64) * 64)) AS i FROM d),
        |a AS (SELECT doc_id, n, i // 64 AS wi,
        |  abs(((s + 1) * ((i*i) % 97) + 13*i) % 4001 - 2000
        |    + CASE WHEN doc_id % 5 = 0 AND i < 24 THEN 1500 ELSE 0 END) AS aa FROM u),
        |e AS (SELECT doc_id, max(n) AS n, wi, CAST(sum(aa) AS BIGINT) AS en
        |  FROM a GROUP BY doc_id, wi),
        |act AS (SELECT doc_id, wi FROM e WHERE en > 66000),
        |runs AS (SELECT doc_id, wi - row_number() OVER (PARTITION BY doc_id ORDER BY wi) AS grp
        |  FROM act),
        |segs AS (SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM runs GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(max(len) AS BIGINT) AS longest_run FROM segs GROUP BY 1),
        |na AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_active FROM act GROUP BY 1)
        |SELECT d.doc_id, CAST(d.n // 64 AS BIGINT) AS n_windows,
        |  coalesce(na.n_active, 0) AS n_active,
        |  coalesce(per.n_segments, 0) AS n_segments,
        |  coalesce(per.longest_run, 0) AS longest_run
        |FROM d LEFT JOIN na USING (doc_id) LEFT JOIN per USING (doc_id)""".stripMargin)
    )),

    // Audio near-dup — the audio analog of media_dhash_neardup: spectral
    // sign fingerprint over the first 256 DECODED samples (8 frames × 8
    // DCT coefficients, integer basis shared with the image pHash, bit =
    // coefficient sign), then the same 4×16 band-LSH. Docs sharing
    // doc_id % 256 plant fingerprint-dup classes; the bump term (1500 on
    // samples 0-23 for doc_id % 5 = 0) flips a few frame-0 signs and
    // plants small-hamming near-dups. The oracle replays waveform →
    // block sums → DCT signs → banding entirely from the formula.
    "media_audio_neardup" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Imaging.dhashNearDupHistogram(
          Audio.spectralFingerprints(docs(s, dir).select(col("doc_id")).as[Long]).toDF(),
          hashCol = "afp")
      },
      Some(s"""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s FROM documents),
        |u AS (SELECT doc_id, s, unnest(range(0, 256)) AS i FROM d),
        |${OracleSql.audioFingerprints},
        |bands AS (SELECT doc_id, afp, unnest(range(0, 4)) AS band FROM fp),
        |bk0 AS (SELECT doc_id, afp, (afp >> CAST(16*band AS INT)) & 65535 AS bv, band FROM bands),
        |hotb AS (SELECT band, bv FROM bk0 GROUP BY band, bv HAVING count(*) > 1000),
        |bk AS (SELECT * FROM bk0 WHERE NOT EXISTS (
        |  SELECT 1 FROM hotb WHERE hotb.band = bk0.band AND hotb.bv = bk0.bv)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.afp AS ha, b.afp AS hb
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |ham AS (SELECT CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming FROM cand)
        |SELECT hamming, CAST(count(*) AS BIGINT) AS pair_cnt
        |FROM ham WHERE hamming <= 16 GROUP BY hamming""".stripMargin)
    )),

    // --- Real video-content operators (graft.operators.Video) ---------
    // A "video" is a real multi-frame container: animated GIF written and
    // decoded through the JDK's javax.imageio GIF codec. GIF is palette-
    // indexed LZW — lossless — so with an explicit 256-gray palette the
    // oracle recomputes everything from the closed-form frame formula
    // (Video scaladoc) without seeing the bytes: codec/container bugs
    // surface as hash mismatches, never silent agreement.

    // Encode → real GIF decode → decoder-reported frame count, geometry,
    // and the pixel sum over ALL frames.
    "media_gif_meta" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.gifMeta(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
        |  3 + doc_id % 6 AS nf FROM documents),
        |fr AS (SELECT doc_id, s, nf, unnest(range(0, nf)) AS f FROM d),
        |xs AS (SELECT doc_id, s, nf, f, unnest(range(0, 18)) AS x FROM fr),
        |px AS (SELECT doc_id, s, nf, f, x, unnest(range(0, 16)) AS y FROM xs)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(18 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(sum((s*31 + x*7 + y*13 + x*y*(s + 3 + 11*(f // 3))
        |    + CASE WHEN f % 3 = 1 AND x = y AND x < 4 THEN 64 ELSE 0 END) % 256) AS BIGINT) AS pix_sum
        |FROM px GROUP BY 1, 2, 3, 4""".stripMargin)
    )),

    // One decode per doc → per-frame dHash rows: the content address every
    // temporal operator (cuts, keyframes, video near-dup) runs on. The
    // oracle replays frame pixels → 2×2 block sums → gradient bits.
    "media_video_framehash" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.frameHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
      },
      Some(videoFrameHashCte +
        """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, dhash FROM fh""".stripMargin)
    )),

    // Hard-cut detection from frame hashes alone: hamming step between
    // consecutive frame dHashes; a step > 10 is a cut (within-scene
    // jitter flips ≤ 3 bits, a scene change re-randomizes most of 64).
    // Per-doc lag window — bounded by frames-per-doc, safe at scale.
    "media_scene_cuts" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.sceneCuts(
          Video.frameHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF())
      },
      Some(videoFrameHashCte +
        """, steps AS (SELECT doc_id, f,
          |  CAST(bit_count(xor(dhash, lag(dhash) OVER (PARTITION BY doc_id ORDER BY f))) AS BIGINT) AS step
          |  FROM fh)
          |SELECT doc_id,
          |  CAST(sum(CASE WHEN step > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
          |  max(step) AS max_step, CAST(sum(step) AS BIGINT) AS hamming_sum
          |FROM steps WHERE step IS NOT NULL GROUP BY doc_id""".stripMargin)
    )),

    // Video twin of stream_media_dedup: corpus = every tenth doc's frame
    // hashes; an incoming video drops when >= 2 of its distinct frame
    // hashes appear in the corpus index — clip-level dedup, so trimmed or
    // extended re-uploads still match. Driven per micro-batch by
    // StreamOps.videoDedupAgainstCorpus (StreamingSpec parity test).
    // Oracle replays frame formula -> dHash -> distinct -> count-join.
    "stream_video_dedup" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = docs(s, dir).select(col("doc_id"))
        val corpusFh = Video.frameHashes(
          d.filter(col("doc_id") % 10 === 0).as[Long]).toDF()
        val incoming = d.filter(col("doc_id") % 10 =!= 0)
        val matched = Video.videoMatchedIds(corpusFh,
          Video.frameHashes(incoming.as[Long]).toDF())
        incoming.join(matched, Seq("doc_id"), "left_anti")
      },
      Some(videoFrameHashCte +
        """, corp AS (SELECT DISTINCT dhash FROM fh WHERE doc_id % 10 = 0),
          |inc AS (SELECT DISTINCT doc_id, dhash FROM fh WHERE doc_id % 10 != 0),
          |m AS (SELECT doc_id FROM inc JOIN corp USING (dhash)
          |      GROUP BY doc_id HAVING count(*) >= 2)
          |SELECT doc_id FROM (SELECT DISTINCT doc_id FROM inc)
          |WHERE doc_id NOT IN (SELECT doc_id FROM m)""".stripMargin)
    )),

    // Container-header schema-on-read for the video container, the GIF
    // sibling of media_png_header: signature + logical-screen W/H parsed
    // from the BYTES with Spark binary functions (little-endian u16),
    // no decode. Completes header triage across PNG/JPEG+EXIF/WAV/GIF.
    "media_gif_header" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.gifColumn(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
          .select(col("doc_id"),
            (expr("CAST(gif AS STRING)").substr(1, 6) === "GIF89a").as("sig_ok"),
            expr("CAST(conv(hex(substring(gif, 8, 1)), 16, 10) AS BIGINT) * 256 " +
              "+ CAST(conv(hex(substring(gif, 7, 1)), 16, 10) AS BIGINT)").as("gif_w"),
            expr("CAST(conv(hex(substring(gif, 10, 1)), 16, 10) AS BIGINT) * 256 " +
              "+ CAST(conv(hex(substring(gif, 9, 1)), 16, 10) AS BIGINT)").as("gif_h"))
      },
      Some("""SELECT doc_id, true AS sig_ok, CAST(18 AS BIGINT) AS gif_w,
        |  CAST(16 AS BIGINT) AS gif_h FROM documents""".stripMargin)
    )),

    // Frame-quality triage: integer contrast n*sum(x^2) - sum(x)^2 per
    // frame (0 exactly for a blank frame), the filter a vision pipeline
    // applies before embedding. All-integer, replayed from the formula.
    "media_frame_quality" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.frameStats(docs(s, dir).select(col("doc_id")).as[Long]).toDF()
          .select(col("doc_id"), col("frame_idx"), col("px_sum"),
            (lit(Video.W.toLong * Video.H) * col("px_sq_sum")
              - col("px_sum") * col("px_sum")).as("contrast"))
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
        |  3 + doc_id % 6 AS nf FROM documents),
        |fr AS (SELECT doc_id, s, unnest(range(0, nf)) AS f FROM d),
        |xs AS (SELECT doc_id, s, f, unnest(range(0, 18)) AS x FROM fr),
        |px AS (SELECT doc_id, s, f, x, unnest(range(0, 16)) AS y FROM xs),
        |v AS (SELECT doc_id, f,
        |        (s*31 + x*7 + y*13 + x*y*(s + 3 + 11*(f // 3))
        |         + CASE WHEN f % 3 = 1 AND x = y AND x < 4 THEN 64 ELSE 0 END) % 256 AS v
        |      FROM px)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(sum(v) AS BIGINT) AS px_sum,
        |  CAST(288 * sum(v * v) - sum(v) * sum(v) AS BIGINT) AS contrast
        |FROM v GROUP BY 1, 2""".stripMargin)
    )),

    // Keyframe selection: frame 0 + every scene start (hamming step > 10
    // from the previous frame) — the frames a vision pipeline decodes and
    // embeds downstream, selected from hashes without re-decoding.
    "media_keyframes" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.keyframes(
          Video.frameHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF())
      },
      Some(videoFrameHashCte +
        """, st AS (SELECT doc_id, f, dhash,
          |    lag(dhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM fh)
          |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, dhash FROM st
          |WHERE prev IS NULL OR bit_count(xor(dhash, prev)) > 10""".stripMargin)
    )),

    // Video-level near-dup / clip containment: pairs sharing >= 2 distinct
    // frame hashes; containment_pct = shared / smaller video's distinct
    // frames (100 = one video's content is a subset of the other — a
    // clip). Join key is the frame hash itself; the shuffle carries only
    // (doc_id, dhash). The doc_id%256 classes plant whole-video dups and
    // the 3..8 frame-count spread plants genuine clip-containment pairs.
    "media_video_neardup" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.videoNearDupPairs(
          Video.frameHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF())
      },
      Some(videoFrameHashCte +
        """, dh AS (SELECT DISTINCT doc_id, dhash FROM fh),
          |sz AS (SELECT doc_id, count(*) AS nd FROM dh GROUP BY doc_id),
          |dhp AS (SELECT * FROM dh WHERE dhash NOT IN (
          |  SELECT dhash FROM dh GROUP BY dhash HAVING count(*) > 1000)),
          |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          |       FROM dhp a JOIN dhp b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
          |       GROUP BY 1, 2)
          |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
          |  CAST(n_shared * 100 // least(sa.nd, sb.nd) AS BIGINT) AS containment_pct
          |FROM pr JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
          |WHERE n_shared >= 2""".stripMargin)
    )),

    // Clip alignment — the video twin of text_shared_spans: per near-dup
    // pair, the longest run of consecutive frames matching at a constant
    // offset (gaps-and-islands on the match diagonal), i.e. WHERE the
    // shared clip sits in both videos — the coordinates for cutting a
    // duplicated segment instead of dropping a whole video.
    "media_clip_alignment" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Video.clipAlignments(
          Video.frameHashes(docs(s, dir).select(col("doc_id")).as[Long]).toDF())
      },
      Some(videoFrameHashCte +
        """, m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    a.f AS ai, a.f - b.f AS diag
          |  FROM fh a JOIN fh b ON a.dhash = b.dhash AND a.doc_id < b.doc_id),
          |isl AS (SELECT doc_a, doc_b, diag,
          |    ai - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY ai) AS grp,
          |    ai FROM m),
          |runs AS (SELECT doc_a, doc_b, diag, grp, min(ai) AS start_a, count(*) AS len
          |  FROM isl GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
          |SELECT doc_a, doc_b, CAST(len AS BIGINT) AS len,
          |  CAST(diag AS BIGINT) AS diag, CAST(start_a AS BIGINT) AS start_a
          |FROM (SELECT *, row_number() OVER (PARTITION BY doc_a, doc_b
          |        ORDER BY len DESC, diag, start_a) AS rn FROM runs)
          |WHERE rn = 1""".stripMargin)
    )),

    // Audio clip alignment — the Shazam-shaped sync detector and audio
    // twin of media_clip_alignment: per pair of tracks, the longest run
    // of consecutive 32-sample windows whose exact 8-coefficient DCT
    // signatures match at a constant offset (islands on the match
    // diagonal). Same-class tracks align from window 0; a bumped track
    // (doc%5=0, samples 0-23) against its unbumped classmate aligns from
    // window 1 — the planted "same recording, different head" case.
    "media_audio_alignment" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        Audio.audioAlignments(docs(s, dir).select(col("doc_id")).as[Long])
      },
      Some(s"""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS s,
        |  400 + (doc_id % 100) * 8 AS n FROM documents),
        |u AS (SELECT doc_id, s, unnest(range(0, (n // 32) * 32)) AS i FROM d),
        |${OracleSql.audioDct},
        |sig AS (SELECT doc_id, t, list(coef ORDER BY u) AS sg FROM c GROUP BY 1, 2),
        |m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        a.t AS ai, a.t - b.t AS diag
        |      FROM sig a JOIN sig b ON a.sg = b.sg AND a.doc_id < b.doc_id),
        |isl AS (SELECT doc_a, doc_b, diag,
        |    ai - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY ai) AS grp,
        |    ai FROM m),
        |runs AS (SELECT doc_a, doc_b, diag, grp, min(ai) AS start_a, count(*) AS len
        |  FROM isl GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, CAST(len AS BIGINT) AS len,
        |  CAST(diag AS BIGINT) AS diag, CAST(start_a AS BIGINT) AS start_a
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_a, doc_b
        |        ORDER BY len DESC, diag, start_a) AS rn FROM runs)
        |WHERE rn = 1""".stripMargin)
    )),

    // Boilerplate share: the per-mille of a document's distinct shingles
    // that also appear in at least one OTHER document — high values mean
    // template/boilerplate text even when no pair clears the near-dup
    // threshold. Inverted shingle index + document-frequency aggregate;
    // the integer per-mille keeps the result hash-exact.
    "text_boilerplate" -> ((
      (s: SparkSession, dir: String) => {
        // native one-pass shingle kernel (hashes, not strings): hashes are
        // distinct per doc, so df by plain count == df by distinct doc —
        // and the exploded relation carries one i64 per shingle instead of
        // the concatenated token text (this was the last string-shingle
        // consumer; df > 1 is hash-equivalent)
        val sh = Dedup.shingleRelation(docs(s, dir), n = 3)
          .select(col("doc_id"), explode(col("hs")).as("h"))
          .eagerPersisted
        val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
        sh.join(df, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("df") > 1, 1L).otherwise(0L)).as("shared"))
          .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"),
            expr("CAST(shared * 1000 AS BIGINT) div n_sh").as("shared_per_mille"))
      },
      Some(s"""WITH ${OracleSql.shingles3},
        |df AS (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s),
        |per AS (SELECT sh.doc_id, count(*) AS n_sh,
        |          sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS shared
        |        FROM sh JOIN df ON sh.s = df.s GROUP BY sh.doc_id)
        |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh,
        |  CAST(shared AS BIGINT) * 1000 // n_sh AS shared_per_mille FROM per""".stripMargin)
    )),

    // Unigram-LM quality score: each doc's token-count and summed log
    // probability under the corpus's own unigram distribution — the
    // classic cheap perplexity proxy for filtering boilerplate/outlier
    // text. All-integer output: per-token log-probs are floored to
    // millionths FIRST (one double op per distinct token, identical in
    // both engines), then summed as integers — so the aggregate is
    // order-free and hash-stable, with no float summation anywhere.
    // Scale shape: token explode + two hash aggs; the per-token score
    // table is vocab-sized and broadcast back onto the token stream.
    "text_unigram_loglik" -> ((
      (s: SparkSession, dir: String) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .eagerPersisted
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        val tot = toks.agg(count(lit(1)).as("total"))
        val logp = freq.crossJoin(broadcast(tot))
          .select(col("tok"),
            floor(lit(1e6) * log(col("cnt").cast("double") / col("total")))
              .cast("long").as("lp"))
        // no broadcast hint on the score table: fixture vocabularies
        // auto-broadcast, but a web-scale vocabulary (billions of distinct
        // tokens) must be allowed to shuffle-join on tok — a forced
        // broadcast is the thing that would NOT survive the 1000× scale-up
        toks.join(logp, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            sum("lp").cast("long").as("sum_logp_x1e6"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        |freq AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
        |tot AS (SELECT count(*) AS total FROM t),
        |logp AS (SELECT tok,
        |  CAST(floor(1e6 * ln(CAST(cnt AS DOUBLE) / total)) AS BIGINT) AS lp
        |  FROM freq, tot)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lp) AS BIGINT) AS sum_logp_x1e6
        |FROM t JOIN logp ON t.tok = logp.tok GROUP BY t.doc_id""".stripMargin)
    )),

    // DSIR-style importance weights (Xie et al. 2023): per-doc log weight
    // = Σ log( p_target(tok) / p_corpus(tok) ) with add-one smoothing,
    // target = the English subset. Docs whose tokens look like the target
    // domain get positive log-weights and are upsampled at selection time.
    // Same integer discipline as text_unigram_loglik: one double op per
    // DISTINCT token (identical expression both engines), floored to
    // millionths, then order-free integer sums per doc. Scale shape: the
    // log-ratio table is vocab-sized and broadcast; everything else is two
    // hash aggregates over the token stream.
    "text_dsir_weights" -> ((
      (s: SparkSession, dir: String) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .eagerPersisted
        val allC = toks.groupBy("tok").agg(count(lit(1)).as("ac"))
        val tgtC = toks.filter(col("lang") === "en")
          .groupBy("tok").agg(count(lit(1)).as("tc"))
        val vocab = allC.agg(count(lit(1)).as("v"), sum("ac").as("atot"))
        val ttot = toks.filter(col("lang") === "en").agg(count(lit(1)).as("tt"))
        val lr = allC.join(tgtC, Seq("tok"), "left").na.fill(0L, Seq("tc"))
          .crossJoin(broadcast(vocab)).crossJoin(broadcast(ttot))
          .select(col("tok"),
            floor(lit(1e6) * log(
              ((col("tc") + 1).cast("double") / (col("tt") + col("v")).cast("double")) /
                ((col("ac") + 1).cast("double") / (col("atot") + col("v")).cast("double"))
            )).cast("long").as("lr"))
        // same as text_unigram_loglik: auto-broadcast at fixture scale,
        // shuffle-join on tok when the vocabulary outgrows the broadcast
        // limit (real DSIR hash-buckets the feature space for this reason)
        toks.join(lr, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_tokens"),
            sum("lr").cast("long").as("dsir_logw_x1e6"))
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, lang, tok FROM toks WHERE length(tok) > 0),
        |allc AS (SELECT tok, count(*) AS ac FROM t GROUP BY tok),
        |tgtc AS (SELECT tok, count(*) AS tc FROM t WHERE lang = 'en' GROUP BY tok),
        |vocab AS (SELECT count(*) AS v, sum(ac) AS atot FROM allc),
        |ttot AS (SELECT count(*) AS tt FROM t WHERE lang = 'en'),
        |lr AS (SELECT a.tok,
        |  CAST(floor(1e6 * ln(
        |    (CAST(COALESCE(tc, 0) + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)) /
        |    (CAST(ac + 1 AS DOUBLE) / CAST(atot + v AS DOUBLE)))) AS BIGINT) AS lr
        |  FROM allc a LEFT JOIN tgtc ON a.tok = tgtc.tok, vocab, ttot)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lr) AS BIGINT) AS dsir_logw_x1e6
        |FROM t JOIN lr ON t.tok = lr.tok GROUP BY t.doc_id""".stripMargin)
    )),

    // Temperature-smoothed source mixing weights (alpha = 0.5, the T5/mC4
    // convention): w_i ∝ sqrt(tokens_i), normalized — upsamples small
    // sources without letting giants dominate the training mix. Integer
    // algebra throughout: sqrt is IEEE-exactly-rounded in both engines, so
    // floor(1000*sqrt(n)) is bit-identical; the normalization then runs on
    // integers (order-free sum, integer division) — no float summation.
    "q_mix_weights" -> ((
      (s: SparkSession, dir: String) => {
        val per = docs(s, dir)
          .groupBy("source")
          .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
          .withColumn("s", floor(lit(1000.0) * sqrt(col("tokens"))).cast("long"))
        val tot = per.agg(sum("s").as("t"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("tokens").cast("long").as("tokens"),
            expr("CAST(s * 1000000 AS BIGINT) div t").as("weight_x1e6"))
      },
      Some("""WITH per AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN length(text) = 0 THEN 0
        |             ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |s AS (SELECT source, tokens,
        |  CAST(floor(1000 * sqrt(tokens)) AS BIGINT) AS sv FROM per),
        |tot AS (SELECT CAST(sum(sv) AS BIGINT) AS t FROM s)
        |SELECT source, tokens, sv * 1000000 // t AS weight_x1e6 FROM s, tot""".stripMargin)
    )),

    // Blocked edit-distance near-dup pairs: candidates from an equi-join on
    // (source, length-bucket), then a threshold-banded Levenshtein on a
    // 160-char prefix — the entity-resolution dedup modality (char-level
    // edits, where shingle Jaccard sees token-level overlap).
    "dedup_edit_distance" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.editDistancePairs(docs(s, dir), prefixLen = 100, maxDist = 55, bucketChars = 25),
      Some("""WITH b AS (SELECT doc_id, source, n_chars // 25 AS lb,
        |  substr(text, 1, 100) AS p FROM documents)
        |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |  CAST(levenshtein(a.p, c.p) AS BIGINT) AS dist
        |FROM b a JOIN b c ON a.source = c.source AND a.lb = c.lb AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.p, c.p) <= 55""".stripMargin)
    )),

    // PageRank (3 unrolled power iterations, d=0.85) over the exact-Jaccard
    // near-dup graph — scores the "hubs" of a duplication cluster, the
    // signal for picking the canonical document instead of min-id. Fixed
    // iteration count keeps it deterministic; the oracle replays the same
    // three join+aggregate rounds as SQL CTEs.
    "graph_pagerank" -> ((
      (s: SparkSession, dir: String) =>
        Graph.pageRank(QueryUtil.nearDupEdges(docs(s, dir)), iters = 3, damping = 0.85),
      Some(s"""WITH ${OracleSql.jaccardGraph("e")},
        |nodes AS (SELECT DISTINCT src AS v FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS dg FROM e GROUP BY 1),
        |p0 AS (SELECT v, 1.0 / n AS pr FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS v, sum(p0.pr / deg.dg) AS w
        |  FROM e JOIN p0 ON p0.v = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
        |p1 AS (SELECT nodes.v, 0.15 / nn.n + 0.85 * coalesce(c1.w, 0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.v = nodes.v),
        |c2 AS (SELECT e.dst AS v, sum(p1.pr / deg.dg) AS w
        |  FROM e JOIN p1 ON p1.v = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
        |p2 AS (SELECT nodes.v, 0.15 / nn.n + 0.85 * coalesce(c2.w, 0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.v = nodes.v),
        |c3 AS (SELECT e.dst AS v, sum(p2.pr / deg.dg) AS w
        |  FROM e JOIN p2 ON p2.v = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
        |p3 AS (SELECT nodes.v, 0.15 / nn.n + 0.85 * coalesce(c3.w, 0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.v = nodes.v)
        |SELECT v AS doc_id, round(pr, 8) AS rank FROM p3""".stripMargin)
    )),

    // HITS hubs/authorities over the DIRECTED near-dup graph (edge =
    // lower id → higher id: the earlier document endorses the later
    // copy): authority finds the most-copied content, hub the docs
    // assembled FROM many high-authority sources — the two link-analysis
    // scores PageRank's single number conflates. Exact integer fixed
    // point (Graph.hits): non-negative sums + max-div renormalize, so
    // both unrolled rounds replay bit-for-bit (no sign split needed).
    "graph_hits" -> ((
      (s: SparkSession, dir: String) =>
        Graph.hits(QueryUtil.nearDupEdges(docs(s, dir)), iters = 2),
      Some {
        val rounds = (1 to 2).map { t =>
          s"""a${t}r AS (SELECT doc_b AS v, CAST(sum(h) AS BIGINT) AS r
             |  FROM jp JOIN h${t - 1} ON h${t - 1}.v = jp.doc_a GROUP BY 1),
             |a${t}m AS (SELECT greatest(max(r) // 10000, 1) AS m FROM a${t}r),
             |a$t AS MATERIALIZED (SELECT nodes.v,
             |    CAST(coalesce(a${t}r.r, 0) // a${t}m.m AS BIGINT) AS a
             |  FROM nodes CROSS JOIN a${t}m LEFT JOIN a${t}r ON a${t}r.v = nodes.v),
             |h${t}r AS (SELECT doc_a AS v, CAST(sum(a) AS BIGINT) AS r
             |  FROM jp JOIN a$t ON a$t.v = jp.doc_b GROUP BY 1),
             |h${t}m AS (SELECT greatest(max(r) // 10000, 1) AS m FROM h${t}r),
             |h$t AS MATERIALIZED (SELECT nodes.v,
             |    CAST(coalesce(h${t}r.r, 0) // h${t}m.m AS BIGINT) AS h
             |  FROM nodes CROSS JOIN h${t}m LEFT JOIN h${t}r ON h${t}r.v = nodes.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${OracleSql.shinglePairs("prs")},
           |jp AS MATERIALIZED (SELECT doc_a, doc_b FROM prs p
           |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
           |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)),
           |nodes AS MATERIALIZED (SELECT DISTINCT v FROM
           |  (SELECT doc_a AS v FROM jp UNION ALL SELECT doc_b FROM jp)),
           |h0 AS (SELECT v, CAST(10000 AS BIGINT) AS h FROM nodes),
           |$rounds
           |SELECT nodes.v AS doc_id, h2.h AS hub, a2.a AS authority
           |FROM nodes JOIN h2 ON h2.v = nodes.v JOIN a2 ON a2.v = nodes.v""".stripMargin
      }
    )),

    // One synchronized Louvain sweep from singleton communities over the
    // near-dup graph: each node's best move is into the singleton
    // community of a neighbor j maximizing ΔQ = A_ij/m − k_i·k_j/(2m²) —
    // with unit edge weights the argmax is simply the LOWEST-DEGREE
    // neighbor, and the move improves modularity iff 2m > k_i·k_j, so the
    // whole round is exact integer arithmetic (gain_num = 2m − k_i·k_j;
    // no doubles anywhere). Distinct from graph_communities_lp (label
    // propagation maximizes neighbor-label frequency, not modularity
    // gain). The per-node argmin is a window partitioned by the
    // high-cardinality node id; m is a bounded scalar broadcast.
    "graph_louvain_stage" -> ((
      (s: SparkSession, dir: String) => {
        val e = QueryUtil.nearDupEdges(docs(s, dir))
          .eagerPersisted
        val und = e.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(e.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val deg = und.groupBy(col("src").as("v")).agg(count(lit(1)).as("k"))
        val m = e.agg(count(lit(1)).as("m"))
        val cand = und
          .join(deg.select(col("v").as("src"), col("k").as("ki")), "src")
          .join(deg.select(col("v").as("dst"), col("k").as("kj")), "dst")
        val w = Window.partitionBy("src").orderBy(col("kj").asc, col("dst").asc)
        cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .crossJoin(broadcast(m))
          .select(col("src").as("node"),
            when(lit(2L) * col("m") > col("ki") * col("kj"), col("dst"))
              .otherwise(col("src")).as("community"),
            greatest(lit(2L) * col("m") - col("ki") * col("kj"), lit(0L)).as("gain_num"))
      },
      Some(s"""WITH ${OracleSql.jaccardGraph("und")},
        |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS k FROM und GROUP BY 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM jp),
        |cand AS (SELECT u.src, u.dst, ki.k AS ki, kj.k AS kj,
        |    row_number() OVER (PARTITION BY u.src ORDER BY kj.k, u.dst) AS rn
        |  FROM und u JOIN deg ki ON ki.v = u.src JOIN deg kj ON kj.v = u.dst)
        |SELECT src AS node,
        |  CASE WHEN 2 * mm.m > ki * kj THEN dst ELSE src END AS community,
        |  greatest(2 * mm.m - ki * kj, CAST(0 AS BIGINT)) AS gain_num
        |FROM cand, mm WHERE rn = 1""".stripMargin)
    )),

    // Personalized PageRank: teleport mass restricted to a seed set
    // (doc_id % 50 = 0) - "rank everything by graph proximity to these
    // documents", the expansion primitive for retrieval and curation
    // (grow a trusted set through the near-dup/citation graph). Same
    // unrolled 3-round power method as graph_pagerank; non-seeds start
    // at 0 and earn mass only through edges.
    "graph_ppr" -> ((
      (s: SparkSession, dir: String) =>
        Graph.personalizedPageRank(
          QueryUtil.nearDupEdges(docs(s, dir)),
          seedPred = pmod(col("doc_id"), lit(50)) === 0, iters = 3),
      Some(s"""WITH ${OracleSql.jaccardGraph("e")},
        |nodes AS (SELECT DISTINCT src AS v, src % 50 = 0 AS is_seed FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM nodes WHERE is_seed),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS dg FROM e GROUP BY 1),
        |p0 AS (SELECT v, CASE WHEN is_seed THEN 1.0 / ns ELSE 0.0 END AS pr
        |  FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS v, sum(p0.pr / deg.dg) AS w
        |  FROM e JOIN p0 ON p0.v = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
        |p1 AS (SELECT nodes.v, CASE WHEN is_seed THEN 0.15 / nn.ns ELSE 0.0 END
        |    + 0.85 * coalesce(c1.w, 0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.v = nodes.v),
        |c2 AS (SELECT e.dst AS v, sum(p1.pr / deg.dg) AS w
        |  FROM e JOIN p1 ON p1.v = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
        |p2 AS (SELECT nodes.v, CASE WHEN is_seed THEN 0.15 / nn.ns ELSE 0.0 END
        |    + 0.85 * coalesce(c2.w, 0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.v = nodes.v),
        |c3 AS (SELECT e.dst AS v, sum(p2.pr / deg.dg) AS w
        |  FROM e JOIN p2 ON p2.v = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
        |p3 AS (SELECT nodes.v, CASE WHEN is_seed THEN 0.15 / nn.ns ELSE 0.0 END
        |    + 0.85 * coalesce(c3.w, 0) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.v = nodes.v)
        |SELECT v AS doc_id, round(pr, 8) AS rank FROM p3""".stripMargin)
    )),

    // k-hop BFS layers from the same seed set as graph_ppr: exact
    // minimum hop distance <= 3, the bounded-output neighborhood
    // materialization (beyond-k vertices are absent by contract).
    "graph_hops" -> ((
      (s: SparkSession, dir: String) =>
        Graph.hopDistances(
          QueryUtil.nearDupEdges(docs(s, dir)),
          seedPred = pmod(col("doc_id"), lit(50)) === 0, maxHops = 3),
      Some(s"""WITH ${OracleSql.jaccardGraph("e")},
        |l0 AS (SELECT DISTINCT src AS doc_id FROM e WHERE src % 50 = 0),
        |l1 AS (SELECT DISTINCT e.dst AS doc_id FROM e JOIN l0 ON l0.doc_id = e.src
        |       WHERE e.dst NOT IN (SELECT doc_id FROM l0)),
        |l2 AS (SELECT DISTINCT e.dst AS doc_id FROM e JOIN l1 ON l1.doc_id = e.src
        |       WHERE e.dst NOT IN (SELECT doc_id FROM l0 UNION ALL SELECT doc_id FROM l1)),
        |l3 AS (SELECT DISTINCT e.dst AS doc_id FROM e JOIN l2 ON l2.doc_id = e.src
        |       WHERE e.dst NOT IN (SELECT doc_id FROM l0 UNION ALL SELECT doc_id FROM l1
        |                           UNION ALL SELECT doc_id FROM l2))
        |SELECT doc_id, CAST(0 AS BIGINT) AS hops FROM l0
        |UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM l1
        |UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM l2
        |UNION ALL SELECT doc_id, CAST(3 AS BIGINT) FROM l3""".stripMargin)
    )),

    // Landmark harmonic centrality over the near-dup graph — which
    // documents sit "centrally" inside the duplication structure, from
    // BFS out of a deterministic landmark sample instead of the Θ(n·m)
    // all-pairs BFS exact closeness needs. The per-(landmark, vertex)
    // frontier ships ids only; the harmonic fold is floored
    // micro-integers, so both engines sum exactly. The oracle replays the
    // three BFS rounds as MATERIALIZED CTEs (each round feeds both the
    // next frontier and the visited set — inlined, the shingle pipeline
    // would replicate 2^hops times).
    "graph_harmonic_landmarks" -> ((
      (s: SparkSession, dir: String) =>
        Graph.landmarkHarmonic(
          QueryUtil.nearDupEdges(docs(s, dir)),
          seedPred = pmod(col("doc_id"), lit(7)) === 0, maxHops = 3),
      Some(s"""WITH ${OracleSql.jaccardPairs},
        |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM jp
        |  UNION ALL SELECT doc_b, doc_a FROM jp),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS lm, src AS doc_id FROM e WHERE src % 7 = 0),
        |f1 AS (SELECT DISTINCT l0.lm, e.dst AS doc_id FROM e JOIN l0 ON l0.doc_id = e.src),
        |l1 AS MATERIALIZED (SELECT f1.lm, f1.doc_id FROM f1
        |  LEFT JOIN l0 v ON v.lm = f1.lm AND v.doc_id = f1.doc_id WHERE v.lm IS NULL),
        |v1 AS MATERIALIZED (SELECT lm, doc_id FROM l0 UNION ALL SELECT lm, doc_id FROM l1),
        |f2 AS (SELECT DISTINCT l1.lm, e.dst AS doc_id FROM e JOIN l1 ON l1.doc_id = e.src),
        |l2 AS MATERIALIZED (SELECT f2.lm, f2.doc_id FROM f2
        |  LEFT JOIN v1 v ON v.lm = f2.lm AND v.doc_id = f2.doc_id WHERE v.lm IS NULL),
        |v2 AS MATERIALIZED (SELECT lm, doc_id FROM v1 UNION ALL SELECT lm, doc_id FROM l2),
        |f3 AS (SELECT DISTINCT l2.lm, e.dst AS doc_id FROM e JOIN l2 ON l2.doc_id = e.src),
        |l3 AS MATERIALIZED (SELECT f3.lm, f3.doc_id FROM f3
        |  LEFT JOIN v2 v ON v.lm = f3.lm AND v.doc_id = f3.doc_id WHERE v.lm IS NULL),
        |d AS (SELECT lm, doc_id, 1 AS hops FROM l1
        |  UNION ALL SELECT lm, doc_id, 2 FROM l2
        |  UNION ALL SELECT lm, doc_id, 3 FROM l3)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_reached,
        |  CAST(sum(1000000 // hops) AS BIGINT) AS harmonic_x1e6
        |FROM d GROUP BY 1""".stripMargin)
    )),

    // Entity resolution end-to-end: blocking → edit-distance pairs →
    // transitive closure → one golden record per entity (singletons
    // included via the left join). The survivorship rules are aggregates
    // over the cluster (min-id representative, longest member by
    // deterministic (n_chars, doc_id) order, member count, total chars) —
    // the whole workflow is three of this library's operators composed,
    // and the oracle replays it with the recursive-CTE fixpoint.
    "er_golden_record" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val cc = Dedup.connectedComponents(
          Dedup.editDistancePairs(d).select(col("doc_a"), col("doc_b")))
        d.join(cc, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .groupBy("cluster_id")
          .agg(
            count(lit(1)).as("n_members"),
            min("doc_id").as("rep_doc_id"),
            max_by(col("doc_id"), struct(col("n_chars"), col("doc_id"))).as("longest_doc"),
            sum("n_chars").as("total_chars"))
      },
      Some("""WITH RECURSIVE b AS (SELECT doc_id, source, n_chars // 25 AS lb,
        |  substr(text, 1, 100) AS p FROM documents),
        |ep AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM b a JOIN b c ON a.source = c.source AND a.lb = c.lb AND a.doc_id < c.doc_id
        |  WHERE levenshtein(a.p, c.p) <= 55),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM ep UNION SELECT doc_b, doc_a FROM ep),
        |reach AS (
        |  SELECT a AS node, b AS r FROM edges
        |  UNION
        |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
        |cc AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
        |lab AS (SELECT d.doc_id, d.n_chars, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
        |rk AS (SELECT *, row_number() OVER (
        |  PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id DESC) AS r FROM lab)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |  min(doc_id) AS rep_doc_id,
        |  max(CASE WHEN r = 1 THEN doc_id END) AS longest_doc,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM rk GROUP BY 1""".stripMargin)
    )),

    // Blocking-quality audit for the ER pipeline — the two standard
    // metrics (Christen): PAIRS COMPLETENESS (what fraction of true
    // matches the (source, length-band) blocking keys capture) and
    // REDUCTION RATIO (what fraction of the n² comparison space they
    // prune), measured on the FIXED 200-doc hash-ordered sample
    // (`erSample` — bounded pair space at any SF; the r10 SF-proportional
    // `doc_id % 5` sample went quadratic at scale). The thresholded
    // levenshtein predicate triggers the banded-kernel rewrite rule, so
    // "exhaustive" still runs the O(k·m/64) kernel, not full DP. This is
    // the audit that decides whether er_golden_record's blocking is safe
    // to trust at full scale.
    "er_blocking_eval" -> ((
      (s: SparkSession, dir: String) => {
        val d = erSample(s, dir)
        val pr = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(
            when(expr("levenshtein(a.p, b.p) <= 55"), 1L).otherwise(0L).as("tr"),
            when(col("a.source") === col("b.source") && col("a.lb") === col("b.lb"), 1L)
              .otherwise(0L).as("cd"))
        pr.agg(count(lit(1)).as("total"), sum("tr").as("n_true"),
            sum("cd").as("n_cand"), sum(col("tr") * col("cd")).as("n_captured"))
          .select(col("n_true"), col("n_cand"), col("n_captured"),
            expr("CASE WHEN n_true = 0 THEN 1000 ELSE n_captured * 1000 div n_true END")
              .as("completeness_pm"),
            expr("1000 - n_cand * 1000 div total").as("reduction_pm"))
      },
      Some(s"WITH $erSampleCte,\n" + """pr AS (SELECT
        |    CASE WHEN levenshtein(a.p, b.p) <= 55 THEN 1 ELSE 0 END AS tr,
        |    CASE WHEN a.source = b.source AND a.lb = b.lb THEN 1 ELSE 0 END AS cd
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |agg AS (SELECT count(*) AS total, sum(tr) AS n_true, sum(cd) AS n_cand,
        |    sum(tr * cd) AS n_captured FROM pr)
        |SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
        |  CAST(n_captured AS BIGINT) AS n_captured,
        |  CAST(CASE WHEN n_true = 0 THEN 1000 ELSE n_captured * 1000 // n_true END AS BIGINT)
        |    AS completeness_pm,
        |  CAST(1000 - n_cand * 1000 // total AS BIGINT) AS reduction_pm
        |FROM agg""".stripMargin)
    )),

    // Multi-pass blocking — the standard fix for what er_blocking_eval
    // measures (single-key blocking misses every cross-key true match):
    // a UNION of blocking passes, each cheap, jointly covering what any
    // one key misses. Pass 1 = (source, length band); pass 2 =
    // first-2-token prefix (source-independent, so cross-source
    // near-identical prefixes pair up). Same fixed-sample exhaustive
    // methodology as er_blocking_eval; the oracle replays both passes.
    // The per-pass capture counts show the marginal value of each key —
    // the readout that tunes real ER block schemes.
    "er_blocking_multipass" -> ((
      (s: SparkSession, dir: String) => {
        val d = erSample(s, dir)
        val pr = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(
            when(expr("levenshtein(a.p, b.p) <= 55"), 1L).otherwise(0L).as("tr"),
            when(col("a.source") === col("b.source") && col("a.lb") === col("b.lb"), 1L)
              .otherwise(0L).as("c1"),
            when(col("a.pref") === col("b.pref"), 1L).otherwise(0L).as("c2"))
        pr.agg(count(lit(1)).as("total"), sum("tr").as("n_true"),
            sum(col("tr") * col("c1")).as("cap1"),
            sum(col("tr") * col("c2")).as("cap2"),
            sum(col("tr") * greatest(col("c1"), col("c2"))).as("cap_union"),
            sum(greatest(col("c1"), col("c2"))).as("n_cand"))
          .select(col("n_true"), col("cap1"), col("cap2"), col("cap_union"),
            expr("CASE WHEN n_true = 0 THEN 1000 ELSE cap_union * 1000 div n_true END")
              .as("completeness_pm"),
            expr("1000 - n_cand * 1000 div total").as("reduction_pm"))
      },
      Some(s"WITH $erSampleCte,\n" + """pr AS (SELECT
        |    CASE WHEN levenshtein(a.p, b.p) <= 55 THEN 1 ELSE 0 END AS tr,
        |    CASE WHEN a.source = b.source AND a.lb = b.lb THEN 1 ELSE 0 END AS c1,
        |    CASE WHEN a.pref = b.pref THEN 1 ELSE 0 END AS c2
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |agg AS (SELECT count(*) AS total, sum(tr) AS n_true,
        |    sum(tr * c1) AS cap1, sum(tr * c2) AS cap2,
        |    sum(tr * greatest(c1, c2)) AS cap_union,
        |    sum(greatest(c1, c2)) AS n_cand FROM pr)
        |SELECT CAST(n_true AS BIGINT) AS n_true, CAST(cap1 AS BIGINT) AS cap1,
        |  CAST(cap2 AS BIGINT) AS cap2, CAST(cap_union AS BIGINT) AS cap_union,
        |  CAST(CASE WHEN n_true = 0 THEN 1000 ELSE cap_union * 1000 // n_true END AS BIGINT)
        |    AS completeness_pm,
        |  CAST(1000 - n_cand * 1000 // total AS BIGINT) AS reduction_pm
        |FROM agg""".stripMargin)
    )),

    // Jaro–Winkler fuzzy matching over the DISTINCT value domain — the
    // short-attribute scorer of the ER stack (BoundedLevenshtein
    // thresholds long prefixes; JW scores names/titles, rewarding shared
    // prefixes and tolerating transpositions). The scale move is the
    // relation shape: fuzzy-match the distinct-name domain WITH its row
    // counts (vocabulary grows sub-linearly in rows; here 64 names at any
    // SF), then pairs-with-support — never row-level pairs, which go
    // quadratic in the data. jaro_winkler is a native codegen Expression
    // fuzz-pinned BITWISE to the oracle engine's (no libm, fixed op
    // order), so the raw double crosses the gate un-rounded.
    "er_jaro_winkler" -> ((
      (s: SparkSession, dir: String) => {
        val names = Sources.table(s, dir, "part")
          .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
          .withColumn("noun", split(col("p_name"), " ").getItem(1))
        val a = names.select(col("p_name").as("name_a"), col("cnt").as("cnt_a"), col("noun"))
        val b = names.select(col("p_name").as("name_b"), col("cnt").as("cnt_b"), col("noun"))
        a.join(b, Seq("noun")).filter(col("name_a") < col("name_b"))
          .withColumn("jw", expr("jaro_winkler(name_a, name_b)"))
          .filter(col("jw") >= 0.5)
          .select(col("name_a"), col("name_b"), col("jw"),
            (col("cnt_a") * col("cnt_b")).as("pair_support"))
      },
      Some("""WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS cnt,
        |    string_split(p_name, ' ')[2] AS noun
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw,
        |  a.cnt * b.cnt AS pair_support
        |FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.5""".stripMargin)
    )),

    // Fellegi–Sunter match/non-match weights — the SCORING layer of the ER
    // stack (blocking finds candidates, FS weights decide): per comparison
    // field γ (same source / same length band / same 2-token prefix),
    // estimate m = P(agree | match) and u = P(agree | non-match) against
    // the same sampled levenshtein truth er_blocking_eval audits with, and
    // emit the log2 agreement/disagreement weights a linkage rule sums per
    // pair. Laplace (+1/+2) smoothing keeps the log weights finite when a
    // field never (dis)agrees in a class; probabilities floor to ppm and
    // weights to milli-units — one double expression from exact integer
    // counts on both engines. Same fixed-sample exhaustive methodology
    // (bounded by the hash-ordered LIMIT, banded-levenshtein kernel) as
    // the blocking audits; at full scale m/u estimation runs on exactly
    // this kind of fixed-size sample, never the whole corpus.
    "er_fs_weights" -> ((
      (s: SparkSession, dir: String) => {
        val d = erSample(s, dir)
        val pr = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(
            when(expr("levenshtein(a.p, b.p) <= 55"), 1L).otherwise(0L).as("tr"),
            when(col("a.source") === col("b.source"), 1L).otherwise(0L).as("g1"),
            when(col("a.lb") === col("b.lb"), 1L).otherwise(0L).as("g2"),
            when(col("a.pref") === col("b.pref"), 1L).otherwise(0L).as("g3"))
        val a = pr.agg(count(lit(1)).as("total"), sum("tr").as("n_true"),
          sum(col("tr") * col("g1")).as("cap1"),
          sum((lit(1L) - col("tr")) * col("g1")).as("fp1"),
          sum(col("tr") * col("g2")).as("cap2"),
          sum((lit(1L) - col("tr")) * col("g2")).as("fp2"),
          sum(col("tr") * col("g3")).as("cap3"),
          sum((lit(1L) - col("tr")) * col("g3")).as("fp3"))
        val f = a.withColumn("n_false", col("total") - col("n_true"))
        def mExpr(c: String) = s"CAST($c + 1 AS DOUBLE) / (n_true + 2)"
        def uExpr(f0: String) = s"CAST($f0 + 1 AS DOUBLE) / (n_false + 2)"
        def fieldCols(tag: String, c: String, f0: String) = Seq(
          s"'$tag'",
          s"($c + 1) * 1000000 div (n_true + 2)",
          s"($f0 + 1) * 1000000 div (n_false + 2)",
          s"CAST(floor(1000 * log2((${mExpr(c)}) / (${uExpr(f0)}))) AS BIGINT)",
          s"CAST(floor(1000 * log2((1.0 - ${mExpr(c)}) / (1.0 - ${uExpr(f0)}))) AS BIGINT)")
        f.select(expr(s"""stack(3,
            ${fieldCols("source", "cap1", "fp1").mkString(", ")},
            ${fieldCols("len_band", "cap2", "fp2").mkString(", ")},
            ${fieldCols("prefix2", "cap3", "fp3").mkString(", ")})
          AS (field, m_ppm, u_ppm, w_agree_milli, w_disagree_milli)"""))
      },
      Some(s"WITH $erSampleCte,\n" + """pr AS (SELECT
        |    CASE WHEN levenshtein(a.p, b.p) <= 55 THEN 1 ELSE 0 END AS tr,
        |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
        |    CASE WHEN a.lb = b.lb THEN 1 ELSE 0 END AS g2,
        |    CASE WHEN a.pref = b.pref THEN 1 ELSE 0 END AS g3
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |agg AS (SELECT count(*) AS total, sum(tr) AS n_true,
        |    sum(tr * g1) AS cap1, sum((1 - tr) * g1) AS fp1,
        |    sum(tr * g2) AS cap2, sum((1 - tr) * g2) AS fp2,
        |    sum(tr * g3) AS cap3, sum((1 - tr) * g3) AS fp3,
        |    count(*) - sum(tr) AS n_false
        |  FROM pr),
        |u AS (
        |  SELECT 'source' AS field, cap1 AS cap, fp1 AS fp, n_true, n_false FROM agg
        |  UNION ALL SELECT 'len_band', cap2, fp2, n_true, n_false FROM agg
        |  UNION ALL SELECT 'prefix2', cap3, fp3, n_true, n_false FROM agg)
        |SELECT field,
        |  CAST((cap + 1) * 1000000 // (n_true + 2) AS BIGINT) AS m_ppm,
        |  CAST((fp + 1) * 1000000 // (n_false + 2) AS BIGINT) AS u_ppm,
        |  CAST(floor(1000 * log2((CAST(cap + 1 AS DOUBLE) / (n_true + 2))
        |    / (CAST(fp + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS w_agree_milli,
        |  CAST(floor(1000 * log2((1.0 - CAST(cap + 1 AS DOUBLE) / (n_true + 2))
        |    / (1.0 - CAST(fp + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS w_disagree_milli
        |FROM u""".stripMargin)
    )),

    // UNSUPERVISED Fellegi–Sunter via EM (Winkler's classic): where
    // er_fs_weights leans on a labeled truth predicate, this estimates
    // π, m_i, u_i from the agreement-PATTERN counts alone — the real-world
    // setting, where no one has labels for n² pairs. The pair stream
    // reduces to ≤2³ pattern rows, so three unrolled EM rounds are scalar
    // double arithmetic over a bounded relation (identical expressions on
    // both engines, replayed as chained CTEs); only the converged
    // estimates floor to ppm. Fixed init (π=.1, m=.9, u=.1) makes the
    // fixpoint deterministic.
    "er_fs_em" -> ((
      (s: SparkSession, dir: String) => {
        val d = erSample(s, dir)
        val pat = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(
            when(col("a.source") === col("b.source"), 1L).otherwise(0L).as("g1"),
            when(col("a.lb") === col("b.lb"), 1L).otherwise(0L).as("g2"),
            when(col("a.pref") === col("b.pref"), 1L).otherwise(0L).as("g3"))
          .groupBy("g1", "g2", "g3").agg(count(lit(1)).as("ng"))
          .eagerPersisted
        val init = pat.sparkSession.range(1).select(
          lit(0.1).as("pi"), lit(0.9).as("m1"), lit(0.9).as("m2"), lit(0.9).as("m3"),
          lit(0.1).as("u1"), lit(0.1).as("u2"), lit(0.1).as("u3"))
        def emRound(sc: DataFrame): DataFrame = {
          // no broadcast hint: the scalar row broadcasts itself under AQE,
          // and the init relation is a Range the audit can't prove bounded
          val j = pat.crossJoin(sc)
          def lik(p: String, g: String) =
            when(col(g) === 1L, col(p)).otherwise(lit(1.0) - col(p))
          val aM = col("pi") * lik("m1", "g1") * lik("m2", "g2") * lik("m3", "g3")
          val bU = (lit(1.0) - col("pi")) * lik("u1", "g1") * lik("u2", "g2") * lik("u3", "g3")
          // posterior quantized to integer picos BEFORE the sums: double
          // sums across pattern rows would be partition-order-dependent;
          // ng·wq products go through DECIMAL so they stay exact at any n²
          val wq = floor(lit(1e12) * (aM / (aM + bU))).cast("long")
          val t = j.select(col("ng").cast("decimal(19,0)").as("ng"),
            col("g1"), col("g2"), col("g3"),
            wq.cast("decimal(13,0)").as("wq"),
            (lit(1000000000000L) - wq).cast("decimal(13,0)").as("wn"))
          t.agg(
            (sum(col("ng") * col("wq")).cast("double")
              / (sum(col("ng")).cast("double") * 1e12)).as("pi"),
            (sum(col("ng") * col("wq") * col("g1")).cast("double")
              / sum(col("ng") * col("wq")).cast("double")).as("m1"),
            (sum(col("ng") * col("wq") * col("g2")).cast("double")
              / sum(col("ng") * col("wq")).cast("double")).as("m2"),
            (sum(col("ng") * col("wq") * col("g3")).cast("double")
              / sum(col("ng") * col("wq")).cast("double")).as("m3"),
            (sum(col("ng") * col("wn") * col("g1")).cast("double")
              / sum(col("ng") * col("wn")).cast("double")).as("u1"),
            (sum(col("ng") * col("wn") * col("g2")).cast("double")
              / sum(col("ng") * col("wn")).cast("double")).as("u2"),
            (sum(col("ng") * col("wn") * col("g3")).cast("double")
              / sum(col("ng") * col("wn")).cast("double")).as("u3"))
        }
        val fin = emRound(emRound(emRound(init)))
        fin.select(expr("""stack(3,
            'source',   CAST(floor(1e6 * m1) AS BIGINT), CAST(floor(1e6 * u1) AS BIGINT),
            'len_band', CAST(floor(1e6 * m2) AS BIGINT), CAST(floor(1e6 * u2) AS BIGINT),
            'prefix2',  CAST(floor(1e6 * m3) AS BIGINT), CAST(floor(1e6 * u3) AS BIGINT))
          AS (field, m_ppm, u_ppm)"""),
          expr("CAST(floor(1e6 * pi) AS BIGINT)").as("pi_ppm"))
      },
      Some {
        // three EM rounds generated programmatically — each round is the
        // identical quantized E+M step the Spark side runs
        def lik(p: String, g: String) = s"(CASE WHEN $g = 1 THEN $p ELSE 1 - $p END)"
        def wCte(i: Int, prev: String) =
          s"""w$i AS MATERIALIZED (SELECT ng, g1, g2, g3,
             |    CAST(floor(1e12 * ((pi * ${lik("m1", "g1")} * ${lik("m2", "g2")} * ${lik("m3", "g3")})
             |      / (pi * ${lik("m1", "g1")} * ${lik("m2", "g2")} * ${lik("m3", "g3")}
             |        + (1 - pi) * ${lik("u1", "g1")} * ${lik("u2", "g2")} * ${lik("u3", "g3")}))) AS BIGINT) AS wq
             |  FROM pat CROSS JOIN $prev)""".stripMargin
        def sCte(i: Int, mat: String) =
          s"""s$i AS$mat (SELECT
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0))) AS DOUBLE)
             |      / (CAST(sum(ng) AS DOUBLE) * 1e12) AS pi,
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0)) * g1) AS DOUBLE)
             |      / CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0))) AS DOUBLE) AS m1,
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0)) * g2) AS DOUBLE)
             |      / CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0))) AS DOUBLE) AS m2,
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0)) * g3) AS DOUBLE)
             |      / CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(13,0))) AS DOUBLE) AS m3,
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(1000000000000 - wq AS DECIMAL(13,0)) * g1) AS DOUBLE)
             |      / CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(1000000000000 - wq AS DECIMAL(13,0))) AS DOUBLE) AS u1,
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(1000000000000 - wq AS DECIMAL(13,0)) * g2) AS DOUBLE)
             |      / CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(1000000000000 - wq AS DECIMAL(13,0))) AS DOUBLE) AS u2,
             |    CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(1000000000000 - wq AS DECIMAL(13,0)) * g3) AS DOUBLE)
             |      / CAST(sum(CAST(ng AS DECIMAL(19,0)) * CAST(1000000000000 - wq AS DECIMAL(13,0))) AS DOUBLE) AS u3
             |  FROM w$i)""".stripMargin
        s"""WITH $erSampleCte,
           |pat AS MATERIALIZED (SELECT
           |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
           |    CASE WHEN a.lb = b.lb THEN 1 ELSE 0 END AS g2,
           |    CASE WHEN a.pref = b.pref THEN 1 ELSE 0 END AS g3,
           |    count(*) AS ng
           |  FROM d a JOIN d b ON a.doc_id < b.doc_id GROUP BY 1, 2, 3),
           |s0 AS (SELECT 0.1 AS pi, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
           |              0.1 AS u1, 0.1 AS u2, 0.1 AS u3),
           |${wCte(1, "s0")},
           |${sCte(1, " MATERIALIZED")},
           |${wCte(2, "s1")},
           |${sCte(2, " MATERIALIZED")},
           |${wCte(3, "s2")},
           |${sCte(3, "")},
           |f AS (
           |  SELECT 'source' AS field, m1 AS m, u1 AS u, pi FROM s3
           |  UNION ALL SELECT 'len_band', m2, u2, pi FROM s3
           |  UNION ALL SELECT 'prefix2', m3, u3, pi FROM s3)
           |SELECT field, CAST(floor(1e6 * m) AS BIGINT) AS m_ppm,
           |  CAST(floor(1e6 * u) AS BIGINT) AS u_ppm,
           |  CAST(floor(1e6 * pi) AS BIGINT) AS pi_ppm
           |FROM f""".stripMargin
      }
    )),

    // Fellegi–Sunter DECISION layer — er_fs_weights estimates the per-field
    // weights; this entry applies them: every sampled candidate pair gets
    // the summed agree/disagree log-weight and the match verdict
    // (score > 0), the linkage rule a production ER run executes after
    // blocking. Weights ride the pair relation as one broadcast scalar row
    // (they are aggregates); output is the top-50 scored pairs with
    // deterministic (score, ids) order, so the result stays bounded at any
    // SF while the scoring plan is exactly the full-scale shape.
    "er_fs_classify" -> ((
      (s: SparkSession, dir: String) => {
        val d = erSample(s, dir)
        val pr = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            when(expr("levenshtein(a.p, b.p) <= 55"), 1L).otherwise(0L).as("tr"),
            when(col("a.source") === col("b.source"), 1L).otherwise(0L).as("g1"),
            when(col("a.lb") === col("b.lb"), 1L).otherwise(0L).as("g2"),
            when(col("a.pref") === col("b.pref"), 1L).otherwise(0L).as("g3"))
          .eagerPersisted
        val wts = pr.agg(count(lit(1)).as("total"), sum("tr").as("n_true"),
            sum(col("tr") * col("g1")).as("cap1"),
            sum((lit(1L) - col("tr")) * col("g1")).as("fp1"),
            sum(col("tr") * col("g2")).as("cap2"),
            sum((lit(1L) - col("tr")) * col("g2")).as("fp2"),
            sum(col("tr") * col("g3")).as("cap3"),
            sum((lit(1L) - col("tr")) * col("g3")).as("fp3"))
          .withColumn("n_false", col("total") - col("n_true"))
        def wa(c: String, f0: String) =
          s"""CAST(floor(1000 * log2((CAST($c + 1 AS DOUBLE) / (n_true + 2))
             | / (CAST($f0 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT)""".stripMargin
        def wd(c: String, f0: String) =
          s"""CAST(floor(1000 * log2((1.0 - CAST($c + 1 AS DOUBLE) / (n_true + 2))
             | / (1.0 - CAST($f0 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT)""".stripMargin
        val w = wts.select(
          expr(wa("cap1", "fp1")).as("wa1"), expr(wd("cap1", "fp1")).as("wd1"),
          expr(wa("cap2", "fp2")).as("wa2"), expr(wd("cap2", "fp2")).as("wd2"),
          expr(wa("cap3", "fp3")).as("wa3"), expr(wd("cap3", "fp3")).as("wd3"))
        pr.crossJoin(broadcast(w))
          .select(col("doc_a"), col("doc_b"),
            (when(col("g1") === 1L, col("wa1")).otherwise(col("wd1"))
              + when(col("g2") === 1L, col("wa2")).otherwise(col("wd2"))
              + when(col("g3") === 1L, col("wa3")).otherwise(col("wd3")))
              .as("score_milli"))
          .withColumn("is_match", col("score_milli") > 0)
          .orderBy(col("score_milli").desc, col("doc_a").asc, col("doc_b").asc)
          .limit(50)
      },
      Some(s"WITH $erSampleCte,\n" + """pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CASE WHEN levenshtein(a.p, b.p) <= 55 THEN 1 ELSE 0 END AS tr,
        |    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
        |    CASE WHEN a.lb = b.lb THEN 1 ELSE 0 END AS g2,
        |    CASE WHEN a.pref = b.pref THEN 1 ELSE 0 END AS g3
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id),
        |agg AS (SELECT count(*) AS total, sum(tr) AS n_true,
        |    sum(tr * g1) AS cap1, sum((1 - tr) * g1) AS fp1,
        |    sum(tr * g2) AS cap2, sum((1 - tr) * g2) AS fp2,
        |    sum(tr * g3) AS cap3, sum((1 - tr) * g3) AS fp3,
        |    count(*) - sum(tr) AS n_false
        |  FROM pr),
        |w AS (SELECT
        |    CAST(floor(1000 * log2((CAST(cap1 + 1 AS DOUBLE) / (n_true + 2)) / (CAST(fp1 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS wa1,
        |    CAST(floor(1000 * log2((1.0 - CAST(cap1 + 1 AS DOUBLE) / (n_true + 2)) / (1.0 - CAST(fp1 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS wd1,
        |    CAST(floor(1000 * log2((CAST(cap2 + 1 AS DOUBLE) / (n_true + 2)) / (CAST(fp2 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS wa2,
        |    CAST(floor(1000 * log2((1.0 - CAST(cap2 + 1 AS DOUBLE) / (n_true + 2)) / (1.0 - CAST(fp2 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS wd2,
        |    CAST(floor(1000 * log2((CAST(cap3 + 1 AS DOUBLE) / (n_true + 2)) / (CAST(fp3 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS wa3,
        |    CAST(floor(1000 * log2((1.0 - CAST(cap3 + 1 AS DOUBLE) / (n_true + 2)) / (1.0 - CAST(fp3 + 1 AS DOUBLE) / (n_false + 2)))) AS BIGINT) AS wd3
        |  FROM agg)
        |SELECT doc_a, doc_b,
        |  (CASE WHEN g1 = 1 THEN wa1 ELSE wd1 END
        |   + CASE WHEN g2 = 1 THEN wa2 ELSE wd2 END
        |   + CASE WHEN g3 = 1 THEN wa3 ELSE wd3 END) AS score_milli,
        |  (CASE WHEN g1 = 1 THEN wa1 ELSE wd1 END
        |   + CASE WHEN g2 = 1 THEN wa2 ELSE wd2 END
        |   + CASE WHEN g3 = 1 THEN wa3 ELSE wd3 END) > 0 AS is_match
        |FROM pr CROSS JOIN w
        |ORDER BY score_milli DESC, doc_a ASC, doc_b ASC LIMIT 50""".stripMargin)
    )),

    // Compressibility quality signal (the Gopher "too compressible =
    // boilerplate" heuristic), ORACLE-REPLAYABLE form: distinct bigrams
    // over total bigrams per document — the LZ-family dictionary-growth
    // proxy (repetitive text re-uses the same few bigrams; varied text
    // keeps minting new ones), exact integer per-mille on both engines.
    // r11 verdict item 6: the former text_compression_ratio entry used
    // the native zlib `deflate_len`, whose output is NOT SQL-replayable,
    // and was the catalog's one permanent no_oracle row; the EXACT
    // DEFLATE ratio survives as the TextAnalysis.compressionRatio
    // operator (same plan, value-pinned in StatsEntrySpec), while the
    // catalog-facing entry is this proxy, hash-checked like every other
    // row. Scale shape: one explode at bigram cardinality, one hash
    // aggregate keyed by doc — the tokenize-once discipline.
    "text_compressibility" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        // spread the character-bigram explode (≈ text-length rows per
        // doc) across cores before the compute (guide §1.2 step 2): the
        // fixture parquet is ONE row group, so even with the session's
        // scan-parallelism floor the scan output is one task — the
        // explicit round-robin is the split row-group byte-splitting
        // cannot provide; linear vs the explode fan-out it feeds
        val bi = d.filter(length(col("text")) >= 2)
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(1, length(text) - 1)")).as("i"))
          .select(col("doc_id"), expr("substring(text, i, 2)").as("bg"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            countDistinct(col("bg")).as("n_distinct"))
        d.select(col("doc_id"), length(col("text")).cast("long").as("raw_len"))
          .join(bi, Seq("doc_id"), "left")
          .select(col("doc_id"), col("raw_len"),
            coalesce(col("n_distinct"), lit(0L)).cast("long").as("distinct_bigrams"),
            coalesce(expr("n_distinct * 1000 div n_bigrams"), lit(1000L))
              .cast("long").as("compressibility_pm"))
      },
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |bi AS (SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
        |       FROM d, unnest(range(1, n)) AS t(i) WHERE n >= 2),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(count(DISTINCT bg) AS BIGINT) AS n_distinct
        |       FROM bi GROUP BY doc_id)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS raw_len,
        |  coalesce(ag.n_distinct, 0) AS distinct_bigrams,
        |  CAST(coalesce(ag.n_distinct * 1000 // ag.n_bigrams, 1000) AS BIGINT)
        |    AS compressibility_pm
        |FROM d LEFT JOIN ag USING (doc_id)""".stripMargin)
    )),

    // Token burstiness (variance-to-mean dispersion of per-doc term
    // frequency, zeros included): D ≈ 1 is Poisson background (function
    // words), D ≫ 1 is bursty/topical — the statistic keyword extractors
    // and stopword-list builders rank by. Exact integer sums per token
    // (Σtf, Σtf² in DECIMAL — tf² overflows BIGINT at web scale), zeros
    // folded in via the closed form (N·Σtf² − (Σtf)²)/(N·Σtf); top 20 by
    // dispersion with deterministic tiebreak. Vocabulary-sized shuffle.
    "text_burstiness" -> ((
      (s: SparkSession, dir: String) => {
        val nDocs = docs(s, dir).agg(count(lit(1)).as("nn"))
        val tf = docs(s, dir)
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val perW = tf.groupBy("w").agg(
          sum("tf").as("cw"),
          sum(col("tf").cast("decimal(19,0)") * col("tf").cast("decimal(19,0)")).as("sq"),
          count(lit(1)).as("df"))
        perW.crossJoin(broadcast(nDocs))
          .filter(col("cw") >= 5)
          .select(col("w"), col("cw"), col("df"),
            round((col("nn").cast("double") * col("sq").cast("double")
              - col("cw").cast("double") * col("cw").cast("double"))
              / (col("nn").cast("double") * col("cw").cast("double")), 6)
              .as("burstiness"))
          .orderBy(col("burstiness").desc, col("w").asc)
          .limit(20)
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(
        |    list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |perw AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cw,
        |    sum(CAST(tf AS DECIMAL(19,0)) * CAST(tf AS DECIMAL(19,0))) AS sq,
        |    CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
        |SELECT w, cw, df,
        |  round((CAST(nn AS DOUBLE) * CAST(sq AS DOUBLE)
        |    - CAST(cw AS DOUBLE) * CAST(cw AS DOUBLE))
        |    / (CAST(nn AS DOUBLE) * CAST(cw AS DOUBLE)), 6) AS burstiness
        |FROM perw CROSS JOIN n WHERE cw >= 5
        |ORDER BY burstiness DESC, w ASC LIMIT 20""".stripMargin)
    )),

    // Degree assortativity of the near-dup graph (Graph.assortativity):
    // one number telling curation whether duplication is SOCIAL (hubs
    // link hubs — template families referencing each other) or
    // HUB-AND-SPOKE (one boilerplate source fanning to leaves — the skew
    // case the maxDf caps exist for). Five exact integer sums over the
    // 2m directed edge rows, one rounded double — no pair relation
    // beyond the edges themselves.
    "graph_assortativity" -> ((
      (s: SparkSession, dir: String) =>
        Graph.assortativity(
          QueryUtil.nearDupEdges(docs(s, dir))),
      Some(s"""WITH ${OracleSql.jaccardGraph("e")},
        |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
        |x AS (SELECT da.d AS dx, db.d AS dy
        |  FROM e JOIN deg da ON da.v = e.src JOIN deg db ON db.v = e.dst),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sx2,
        |    CAST(sum(dy * dy) AS BIGINT) AS sy2 FROM x)
        |SELECT m AS m_directed,
        |  CASE WHEN (CAST(m AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
        |      * (CAST(m AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy) = 0 THEN NULL
        |    ELSE round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / sqrt((CAST(m AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
        |        * (CAST(m AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)), 6)
        |  END AS assortativity
        |FROM a""".stripMargin)
    )),

    // Per-vertex triangle counts over the near-dup graph
    // (Graph.triangleCounts): compact-forward wedge join with degree-
    // ordered orientation, so out-degree — and hence the wedge self-join
    // fan-out — is bounded by ~sqrt(2m) even on hub vertices. The oracle
    // replays the same (deg, id)-ranked joins with SQL row-value
    // comparisons.
    "graph_triangles" -> ((
      (s: SparkSession, dir: String) =>
        Graph.triangleCounts(
          QueryUtil.nearDupEdges(docs(s, dir))),
      Some(s"""WITH ${OracleSql.orientedTriangles}
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS triangles FROM
        |  (SELECT u AS doc_id FROM tri UNION ALL SELECT v FROM tri
        |   UNION ALL SELECT x FROM tri)
        |GROUP BY 1""".stripMargin)
    )),

    // Local clustering coefficient over the near-dup graph
    // (Graph.clusteringCoefficients): per degree-≥2 vertex, 2T/(d(d−1))
    // ×1e6 — cliques read 1.0, stars read 0; the structural readout that
    // separates template FAMILIES (dense, clique-like dup neighborhoods)
    // from hub boilerplate (one source fanned wide, zero closure). Same
    // compact-forward wedge machinery as graph_triangles plus one degree
    // join; the oracle extends the triangles replay with the ratio.
    "graph_clustering_coeff" -> ((
      (s: SparkSession, dir: String) =>
        Graph.clusteringCoefficients(
          QueryUtil.nearDupEdges(docs(s, dir))),
      Some(s"""WITH ${OracleSql.orientedTriangles},
        |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS triangles FROM
        |  (SELECT u AS doc_id FROM tri UNION ALL SELECT v FROM tri
        |   UNION ALL SELECT x FROM tri)
        |  GROUP BY 1)
        |SELECT deg.v AS doc_id, CAST(deg.dg AS BIGINT) AS deg,
        |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(floor(1e6 * 2.0 * CAST(coalesce(tc.triangles, 0) AS DOUBLE)
        |    / (CAST(deg.dg AS DOUBLE) * (CAST(deg.dg AS DOUBLE) - 1.0))) AS BIGINT)
        |    AS coeff_micro
        |FROM deg LEFT JOIN tc ON tc.doc_id = deg.v
        |WHERE deg.dg >= 2""".stripMargin)
    )),

    // Degree histogram of the near-dup graph (Graph.degreeHistogram) —
    // the skew diagnostic run before any pair-join composition: a
    // heavy-tailed histogram says the downstream CC/PageRank joins need
    // salting, a flat one says they don't.
    // Community detection by synchronous label propagation over the
    // exact-Jaccard near-dup graph, 3 unrolled rounds, ties toward the
    // lowest label - fully deterministic, so communities replay as SQL
    // CTEs. Finer than connected components: a CC splits where
    // neighborhood majorities disagree.
    "graph_communities_lp" -> ((
      (s: SparkSession, dir: String) =>
        Graph.labelPropagation(
          QueryUtil.nearDupEdges(docs(s, dir)), iters = 3),
      Some(s"""WITH ${OracleSql.jaccardGraph("e")},
        |l0 AS (SELECT DISTINCT src AS v, src AS c FROM e),
        |k1 AS (SELECT e.dst AS v, l.c, count(*) AS cnt FROM e JOIN l0 l ON l.v = e.src GROUP BY 1, 2),
        |l1 AS (SELECT v, c FROM (SELECT v, c,
        |  row_number() OVER (PARTITION BY v ORDER BY cnt DESC, c) AS rn FROM k1) WHERE rn = 1),
        |k2 AS (SELECT e.dst AS v, l.c, count(*) AS cnt FROM e JOIN l1 l ON l.v = e.src GROUP BY 1, 2),
        |l2 AS (SELECT v, c FROM (SELECT v, c,
        |  row_number() OVER (PARTITION BY v ORDER BY cnt DESC, c) AS rn FROM k2) WHERE rn = 1),
        |k3 AS (SELECT e.dst AS v, l.c, count(*) AS cnt FROM e JOIN l2 l ON l.v = e.src GROUP BY 1, 2),
        |l3 AS (SELECT v, c FROM (SELECT v, c,
        |  row_number() OVER (PARTITION BY v ORDER BY cnt DESC, c) AS rn FROM k3) WHERE rn = 1)
        |SELECT v AS doc_id, CAST(c AS BIGINT) AS community FROM l3""".stripMargin)
    )),

    // Modularity of the label-propagation communities — the quality
    // scalar that says whether a partition is BETTER than chance:
    // Q = Σ_c [L_c/m − (D_c/2m)²], emitted ×4m² to stay integer
    // (q4m2 = Σ_c [4m·L_c − D_c²]; divide by 4m² downstream). D_c uses
    // the degree identity D_c = Σ_{v∈c} deg(v): per-vertex degrees are a
    // VERTEX-sized aggregate joined once with the (vertex-sized) label
    // relation, so the only edge-sized join left is the one L_c
    // fundamentally needs (an intra-community edge is defined by its
    // endpoints' labels). Labels are persisted — the LP rounds run once,
    // not once per downstream reference.
    "graph_modularity" -> ((
      (s: SparkSession, dir: String) => {
        // localCheckpoint, not persist (plan size): the edge list's
        // shingle-join lineage is re-embedded by every label-propagation
        // round plus m/deg/lIn, and the community map by three joins —
        // the composed plan string passed the 262 KB print ceiling.
        // Cost matches the persists this replaces.
        val pairs = QueryUtil.nearDupEdges(docs(s, dir))
          .localCheckpoint(true)
        val comm = Graph.labelPropagation(pairs, iters = 3)
          .localCheckpoint(true)
        val m = pairs.agg(count(lit(1)).as("m"))
        val deg = pairs.select(col("doc_a").as("v"))
          .unionAll(pairs.select(col("doc_b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
        val degSum = deg
          .join(comm.select(col("doc_id").as("v"), col("community")), "v")
          .groupBy("community").agg(sum("dg").as("d_sum"))
        val lIn = pairs
          .join(comm.select(col("doc_id").as("doc_a"), col("community").as("ca")), "doc_a")
          .join(comm.select(col("doc_id").as("doc_b"), col("community").as("cb")), "doc_b")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community")).agg(count(lit(1)).as("l_in"))
        degSum.join(lIn, Seq("community"), "left").crossJoin(broadcast(m))
          .select((lit(4) * col("m") * coalesce(col("l_in"), lit(0L))
            - col("d_sum") * col("d_sum")).as("term"), col("m"))
          .agg(max("m").as("m"), count(lit(1)).as("n_communities"),
            sum("term").as("q_x4m2"))
      },
      Some(s"""WITH ${OracleSql.shinglePairs("prs")},
        |jp AS MATERIALIZED (SELECT doc_a, doc_b FROM prs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM jp
        |  UNION ALL SELECT doc_b, doc_a FROM jp),
        |l0 AS (SELECT DISTINCT src AS v, src AS c FROM e),
        |k1 AS (SELECT e.dst AS v, l.c, count(*) AS cnt FROM e JOIN l0 l ON l.v = e.src GROUP BY 1, 2),
        |l1 AS (SELECT v, c FROM (SELECT v, c,
        |  row_number() OVER (PARTITION BY v ORDER BY cnt DESC, c) AS rn FROM k1) WHERE rn = 1),
        |k2 AS (SELECT e.dst AS v, l.c, count(*) AS cnt FROM e JOIN l1 l ON l.v = e.src GROUP BY 1, 2),
        |l2 AS (SELECT v, c FROM (SELECT v, c,
        |  row_number() OVER (PARTITION BY v ORDER BY cnt DESC, c) AS rn FROM k2) WHERE rn = 1),
        |k3 AS (SELECT e.dst AS v, l.c, count(*) AS cnt FROM e JOIN l2 l ON l.v = e.src GROUP BY 1, 2),
        |l3 AS MATERIALIZED (SELECT v, c FROM (SELECT v, c,
        |  row_number() OVER (PARTITION BY v ORDER BY cnt DESC, c) AS rn FROM k3) WHERE rn = 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM jp),
        |wc AS (SELECT jp.doc_a, jp.doc_b, la.c AS ca, lb.c AS cb
        |  FROM jp JOIN l3 la ON la.v = jp.doc_a JOIN l3 lb ON lb.v = jp.doc_b),
        |lin AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS l_in
        |  FROM wc WHERE ca = cb GROUP BY 1),
        |ds AS (SELECT community, CAST(count(*) AS BIGINT) AS d_sum FROM (
        |  SELECT ca AS community FROM wc UNION ALL SELECT cb FROM wc) GROUP BY 1)
        |SELECT max(m.m) AS m, CAST(count(*) AS BIGINT) AS n_communities,
        |  CAST(sum(4 * m.m * coalesce(lin.l_in, 0) - ds.d_sum * ds.d_sum) AS BIGINT) AS q_x4m2
        |FROM ds LEFT JOIN lin USING (community), m""".stripMargin)
    )),

    "graph_degrees" -> ((
      (s: SparkSession, dir: String) =>
        Graph.degreeHistogram(
          QueryUtil.nearDupEdges(docs(s, dir))),
      Some(s"""WITH ${OracleSql.jaccardEdges},
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM
        |  (SELECT a AS v FROM jp UNION ALL SELECT b FROM jp) GROUP BY 1)
        |SELECT degree, CAST(count(*) AS BIGINT) AS node_cnt FROM deg GROUP BY 1""".stripMargin)
    )),

    // 2-core of the near-dup graph (Graph.kCore): iterative peeling until
    // every surviving vertex keeps degree >= 2 — the structural density
    // triage (cycle-bearing template clusters survive, tree-shaped chains
    // of borderline matches peel away). Peeling is monotone, so the
    // oracle replays a FIXED unrolled depth (6 peel rounds — identity
    // once the fixpoint is reached) while the operator's convergence
    // throw guarantees it never silently needs more rounds than the
    // oracle replays.
    "graph_kcore" -> ((
      (s: SparkSession, dir: String) =>
        Graph.kCore(
          QueryUtil.nearDupEdges(docs(s, dir)), k = 2, maxRounds = 7),
      Some {
        // every s_r is referenced three times by round r+1 (degree count +
        // both endpoint filters) — MATERIALIZED, or DuckDB's CTE inlining
        // replicates the shingle self-join 3^rounds times (fd exhaustion)
        val peels = (1 to 6).map { r =>
          s"""d$r AS MATERIALIZED (SELECT v, count(*) AS dg FROM
             |  (SELECT a AS v FROM s${r - 1} UNION ALL SELECT b FROM s${r - 1}) GROUP BY 1),
             |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE dg >= 2),
             |s$r AS MATERIALIZED (SELECT a, b FROM s${r - 1}
             |  WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))""".stripMargin
        }.mkString(",\n")
        s"""WITH ${OracleSql.shinglePairs("prs")},
           |s0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM prs p
           |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
           |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)),
           |$peels
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS core_degree FROM
           |  (SELECT a AS doc_id FROM s6 UNION ALL SELECT b FROM s6) GROUP BY 1""".stripMargin
      }
    )),

    // Adamic–Adar link prediction (Graph.adamicAdar): top-20 NON-adjacent
    // pairs sharing neighbors, weighted 1/ln(deg) per common neighbor.
    // The substrate is a k-NN graph (top-3 exact cosine over a 1-in-10
    // embedding sample) — k-NN is NOT transitive, so open wedges abound
    // and the top predictions are the "neighbors of my neighbors" worth
    // an exact second pass (the text near-dup graph is useless here: its
    // threshold clusters are fully transitive cliques with zero open
    // wedges). Floored-micro integer sums, exact SQL replay.
    "graph_adamic_adar" -> ((
      (s: SparkSession, dir: String) =>
        Graph.adamicAdar(QueryUtil.sampleKnnEdges(emb(s, dir)), topN = 20),
      Some(s"""WITH ${OracleSql.sampleKnnGraph},
        |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1),
        |contrib AS (SELECT z, CAST(floor(1e6 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS c
        |  FROM deg),
        |wedges AS (SELECT l.z, l.n AS a, r.n AS b FROM adj l JOIN adj r
        |  ON l.z = r.z AND l.n < r.n),
        |pred AS (SELECT w.z, w.a, w.b FROM wedges w
        |  LEFT JOIN und ON und.a = w.a AND und.b = w.b WHERE und.a IS NULL),
        |sc AS (SELECT a, b, CAST(sum(c) AS BIGINT) AS aa_micro
        |  FROM pred JOIN contrib USING (z) GROUP BY 1, 2)
        |SELECT a AS doc_a, b AS doc_b, aa_micro FROM sc
        |ORDER BY aa_micro DESC, a, b LIMIT 20""".stripMargin)
    )),

    // Neighbor-set Jaccard link prediction (Graph.jaccardLinkPred):
    // top-20 NON-adjacent pairs ranked by |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)|
    // ×1000 — Adamic–Adar's union-normalized sibling on the same k-NN
    // substrate: a pair whose shared neighbors are most of BOTH
    // neighborhoods outranks one merely touching a popular vertex. Same
    // hub-capped wedge machinery; integer ratio, exact SQL replay.
    "graph_jaccard_linkpred" -> ((
      (s: SparkSession, dir: String) =>
        Graph.jaccardLinkPred(QueryUtil.sampleKnnEdges(emb(s, dir)), topN = 20),
      Some(s"""WITH ${OracleSql.sampleKnnGraph},
        |deg AS MATERIALIZED (SELECT z, CAST(count(*) AS BIGINT) AS deg
        |  FROM adj GROUP BY 1),
        |wedges AS (SELECT l.z, l.n AS a, r.n AS b FROM adj l JOIN adj r
        |  ON l.z = r.z AND l.n < r.n),
        |pred AS (SELECT w.z, w.a, w.b FROM wedges w
        |  LEFT JOIN und ON und.a = w.a AND und.b = w.b WHERE und.a IS NULL),
        |sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS common FROM pred GROUP BY 1, 2)
        |SELECT sc.a AS doc_a, sc.b AS doc_b,
        |  CAST(common * 1000 // (da.deg + db.deg - common) AS BIGINT) AS jx1000
        |FROM sc JOIN deg da ON da.z = sc.a JOIN deg db ON db.z = sc.b
        |ORDER BY jx1000 DESC, sc.a, sc.b LIMIT 20""".stripMargin)
    )),

    // Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003 — the MOSS
    // algorithm): per-position k-gram hashes, min of every w-window, the
    // distinct minima are the doc's fingerprints — guaranteed to catch
    // any shared run of >= w+k-1 tokens while keeping ~2/(w+1) of the
    // k-grams. The position-robust middle ground between exact-hash and
    // full shingle-index dedup. k-gram hash = md5-prefix 48-bit integer
    // (the theta-sketch trick), so the min-selection replays EXACTLY in
    // SQL — a full-value oracle where minhash gets rows-only. Pairs are
    // maxDf-capped on fingerprint posting lists (containment skew rule).
    "text_winnowing" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.winnowingPairs(docs(s, dir), k = 4, w = 4, maxDf = 5),
      Some(s"""WITH ${OracleSql.winnowingFingerprints},
        |dfr AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
        |pr AS (SELECT doc_id, fp FROM fps JOIN dfr USING (fp) WHERE df <= 5)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin)
    )),

    // The prefix-filtered scale twin of text_containment: PPJoin-style
    // candidate generation probes only ~(100-pct)% of each doc's
    // shingles with GUARANTEED total recall (pigeonhole on the miss
    // budget), then verifies candidates exactly — so the output equals
    // the exact operator's and the driver checks it against the SAME
    // exact-SQL oracle.
    "text_containment_prefix" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairsPrefix(docs(s, dir), n = 3, pct = 90, maxDf = 0),
      Some(OracleSql.containment90)
    )),

    // The PRODUCTION containment path: prefix filtering AND the `maxDf`
    // skew cap engaged together. maxDf bounds the per-shingle posting
    // list, so one boilerplate shingle shared by k documents costs at
    // most cap·k join rows instead of k² — the difference between a
    // skew-immune plan and a quadratic blowup at 100 TB. The cap is
    // exactly replayable SQL (`WHERE df <= 5` on the shingle CTE, with
    // denominators still counted on the UNPRUNED relation), so this
    // pruned answer gets its own exact oracle; the maxDf=0 entries below
    // remain the total-recall twins. maxDf=5 bites on the fixture (max
    // df at sf0.01 is 7), so the gate genuinely checks the pruned path.
    "text_containment_maxdf" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairsPrefix(docs(s, dir), n = 3, pct = 90, maxDf = 5),
      Some(s"""WITH ${OracleSql.shingleCounts},
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |pr AS (SELECT doc_id, s FROM sh JOIN df USING (s) WHERE df <= 5),
        |prs AS (
        |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_of, CAST(count(*) AS BIGINT) AS common
        |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_in, doc_of, common, ca.n_sh AS n_sh_in
        |FROM prs p JOIN cnt ca ON ca.doc_id = p.doc_in
        |WHERE common * 100 >= 90 * ca.n_sh""".stripMargin)
    )),

    // Asymmetric containment dedup (Dedup.containmentPairs): ≥90% of the
    // contained document's shingles appear in the container — catches the
    // small-doc-quoted-in-big-doc case Jaccard's union denominator hides.
    // Directed pairs; same inverted-index scale shape as the Jaccard
    // entry. ORACLE TWIN at maxDf=0 — text_containment_maxdf above is
    // the skew-capped production plan.
    "text_containment" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.containmentPairs(docs(s, dir), n = 3, pct = 90, maxDf = 0),
      Some(OracleSql.containment90)
    )),

    // The containment FILTER — the curation action on the containment
    // signal: drop every document ≥90% shingle-contained in a LOWER-id
    // document (greedy by id, the dropNearDuplicates discipline — the
    // quoted/subsumed copy goes, the original stays; a higher-id
    // containER never rescues a lower-id containEE). Same inverted-index
    // plan as text_containment; the extra stage is one distinct + anti
    // join on ids.
    "text_containment_drop" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir)
        val contained = Dedup.containmentPairs(d, n = 3, pct = 90, maxDf = 0)
          .filter(col("doc_of") < col("doc_in"))
          .select(col("doc_in").as("doc_id")).distinct()
        d.join(contained, Seq("doc_id"), "left_anti").select(col("doc_id"))
      },
      Some(s"""WITH ${OracleSql.shingleCounts},
        |prs AS (
        |  SELECT a.doc_id AS doc_in, b.doc_id AS doc_of, CAST(count(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |dropped AS (SELECT DISTINCT doc_in FROM prs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_in
        |  WHERE p.doc_of < p.doc_in AND common * 100 >= 90 * ca.n_sh)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_in FROM dropped)""".stripMargin)
    )),

    // Matryoshka truncation quality readout (Similarity.matryoshkaTopK):
    // per query, how many of the full-64-dim top-10 survive when scoring
    // on the first 32 dims only. The left join keeps zero-overlap queries
    // visible — a silent dropout would otherwise read as "truncation is
    // fine". The oracle recomputes both rankings on sliced DOUBLE lists.
    "vector_matryoshka" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        // nq/k are the SINGLE source of both the query-set bound and the
        // downstream no-op limit (r11 ADVICE: a free-standing limit(80)
        // would truncate SILENTLY if the query set ever grew — deriving
        // it from the same constants that build q makes that impossible)
        val nq = 8; val k = 10
        val q = e.filter(col("vec_id") < nq).limit(nq)
        val full = Similarity.bruteForceTopK(e, q, k = k)
          .select(col("query_id"), col("neighbor_id"))
        val trunc = Similarity.matryoshkaTopK(e, q, dims = 32, k = k)
          .select(col("query_id"), col("neighbor_id"))
        // both rankings are (|queries| * k)-row relations — broadcast them
        // so the overlap check never shuffles; the no-op limit states the
        // nq × k bound in a form PlanAudit's boundedness walk can verify
        val overlap = trunc.join(broadcast(full.limit(nq * k)), Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("overlap_at_10"))
        q.select(col("vec_id").as("query_id"))
          .join(broadcast(overlap), Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("overlap_at_10"), lit(0L)).as("overlap_at_10"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 8),
        |fullr AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) AS rnk
        |  FROM q JOIN e ON e.vec_id <> q.vec_id QUALIFY rnk <= 10),
        |tr AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v[1:32], e.v[1:32]) DESC, e.vec_id) AS rnk
        |  FROM q JOIN e ON e.vec_id <> q.vec_id QUALIFY rnk <= 10),
        |ov AS (SELECT tr.query_id, CAST(count(*) AS BIGINT) AS overlap_at_10
        |  FROM tr JOIN fullr USING (query_id, neighbor_id) GROUP BY 1)
        |SELECT q.vec_id AS query_id, coalesce(ov.overlap_at_10, 0) AS overlap_at_10
        |FROM q LEFT JOIN ov ON ov.query_id = q.vec_id""".stripMargin)
    )),

    // Bigram-LM fluency scoring: per-doc Σ ln p(w2|w1) with conditionals
    // fit on the corpus itself (every scored bigram is in the counts, so
    // no smoothing term) — the sequence-aware upgrade of
    // text_unigram_loglik: token-salad documents score far below fluent
    // ones even when their unigram mix is identical. Same integer
    // discipline: one double op per DISTINCT bigram (floored to
    // millionths), then order-free integer sums. Scale shape: bigram
    // explode + two hash aggs; the conditional table joins back on the
    // bigram key and is free to shuffle at web-scale vocabularies.
    "text_bigram_loglik" -> ((
      (s: SparkSession, dir: String) => {
        val bg = docs(s, dir)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> length(x) > 0)").as("t"))
          // sequence(1, size-1) is DESCENDING for size <= 1 and would
          // evaluate element_at(t, 0) — guard like the oracle's len >= 2
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1), i -> " +
              "named_struct('w1', element_at(t, i), 'bg', " +
              "concat(element_at(t, i), '|', element_at(t, i + 1))))")).as("x"))
          .select(col("doc_id"), col("x.w1").as("w1"), col("x.bg").as("bg"))
          .eagerPersisted
        val c2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
        val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
        // the conditional table keys each distinct bigram by its first
        // token so c2 and c1 meet on equi-joins (never a prefix test)
        val cond = bg.select(col("bg"), col("w1")).distinct()
          .join(c2, "bg").join(c1, "w1")
          .select(col("bg"),
            floor(lit(1e6) * log(col("c2").cast("double") / col("c1")))
              .cast("long").as("lp"))
        bg.join(cond, "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_bigrams"),
            sum("lp").cast("long").as("sum_logp_x1e6"))
      },
      Some("""WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> length(x) > 0) AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, t[i] AS w1, t[i] || '|' || t[i+1] AS bg FROM u),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |cond AS (SELECT k.bg,
        |  CAST(floor(1e6 * ln(CAST(c2.c2 AS DOUBLE) / c1.c1)) AS BIGINT) AS lp
        |  FROM (SELECT DISTINCT bg, w1 FROM bg) k JOIN c2 USING (bg) JOIN c1 USING (w1))
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(lp) AS BIGINT) AS sum_logp_x1e6
        |FROM bg JOIN cond USING (bg) GROUP BY bg.doc_id""".stripMargin)
    )),

    // Trigram LM with stupid backoff (Brants et al. 2007, the web-scale
    // LM used for perplexity-proxy corpus filtering): train on the even-
    // doc_id half, score EVERY doc, so held-out docs genuinely fall
    // through the tiers — trigram → 0.4·bigram → 0.16·unigram → OOV
    // constant. All counts derive from one trigram-position relation
    // (each tier normalizes over it), each position's log-prob is the
    // identical double expression on identical integer inputs in both
    // engines, floored to millionths, then summed order-free as integers.
    // Per-tier position counts make the backoff structure itself part of
    // the oracle. Scale shape: five equi-joins of the position stream
    // against count tables — none broadcast-forced, because a web-scale
    // trigram table must be allowed to shuffle-join (same reasoning as
    // text_unigram_loglik's score table).
    "text_trigram_backoff" -> ((
      (s: SparkSession, dir: String) => {
        val tri = docs(s, dir)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> length(x) > 0)").as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 2), i -> named_struct(" +
              "'w1', element_at(t, i), 'w2', element_at(t, i + 1), " +
              "'w3', element_at(t, i + 2)))")).as("x"))
          .select(col("doc_id"), col("x.w1").as("w1"), col("x.w2").as("w2"),
            col("x.w3").as("w3"))
          .eagerPersisted
        val train = tri.filter(pmod(col("doc_id"), lit(2)) === 0)
        val c3t = train.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
        val ctx = train.groupBy("w1", "w2").agg(count(lit(1)).as("ctxc"))
        val bo2 = train.groupBy("w2", "w3").agg(count(lit(1)).as("c2e"))
        val mid = train.groupBy("w2").agg(count(lit(1)).as("c1m"))
        val uni = train.groupBy("w3").agg(count(lit(1)).as("c1e"))
        val tot = train.agg(count(lit(1)).as("n"))
        val scored = tri
          .join(c3t, Seq("w1", "w2", "w3"), "left")
          .join(ctx, Seq("w1", "w2"), "left")
          .join(bo2, Seq("w2", "w3"), "left")
          .join(mid, Seq("w2"), "left")
          .join(uni, Seq("w3"), "left")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            when(col("c3").isNotNull, lit(3))
              .when(col("c2e").isNotNull, lit(2))
              .when(col("c1e").isNotNull, lit(1))
              .otherwise(lit(0)).as("tier"),
            when(col("c3").isNotNull,
              floor(lit(1e6) * log(col("c3").cast("double") / col("ctxc"))))
              .when(col("c2e").isNotNull,
                floor(lit(1e6) * log(lit(0.4) * (col("c2e").cast("double") / col("c1m")))))
              .when(col("c1e").isNotNull,
                floor(lit(1e6) * log(lit(0.16) * (col("c1e").cast("double") / col("n")))))
              .otherwise(floor(lit(1e6) * log(lit(0.16) / (col("n") + lit(1)))))
              .cast("long").as("lp"))
        scored.groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_pos"),
            sum(when(col("tier") === 3, 1L).otherwise(0L)).as("n_tri"),
            sum(when(col("tier") === 2, 1L).otherwise(0L)).as("n_bi"),
            sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_uni"),
            sum(when(col("tier") === 0, 1L).otherwise(0L)).as("n_oov"),
            sum("lp").cast("long").as("sum_logp_x1e6"))
      },
      Some("""WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> length(x) > 0) AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM d WHERE len(t) >= 3),
        |p AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3 FROM u),
        |tr AS (SELECT * FROM p WHERE doc_id % 2 = 0),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tr GROUP BY 1, 2, 3),
        |ctx AS (SELECT w1, w2, count(*) AS ctxc FROM tr GROUP BY 1, 2),
        |bo2 AS (SELECT w2, w3, count(*) AS c2e FROM tr GROUP BY 1, 2),
        |mid AS (SELECT w2, count(*) AS c1m FROM tr GROUP BY 1),
        |uni AS (SELECT w3, count(*) AS c1e FROM tr GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM tr),
        |sc AS (SELECT p.doc_id,
        |    CASE WHEN c3.c3 IS NOT NULL THEN 3
        |         WHEN bo2.c2e IS NOT NULL THEN 2
        |         WHEN uni.c1e IS NOT NULL THEN 1 ELSE 0 END AS tier,
        |    CASE WHEN c3.c3 IS NOT NULL
        |           THEN CAST(floor(1e6 * ln(CAST(c3.c3 AS DOUBLE) / ctx.ctxc)) AS BIGINT)
        |         WHEN bo2.c2e IS NOT NULL
        |           THEN CAST(floor(1e6 * ln(0.4 * (CAST(bo2.c2e AS DOUBLE) / mid.c1m))) AS BIGINT)
        |         WHEN uni.c1e IS NOT NULL
        |           THEN CAST(floor(1e6 * ln(0.16 * (CAST(uni.c1e AS DOUBLE) / tot.n))) AS BIGINT)
        |         ELSE CAST(floor(1e6 * ln(0.16 / (tot.n + 1))) AS BIGINT) END AS lp
        |  FROM p LEFT JOIN c3 USING (w1, w2, w3) LEFT JOIN ctx USING (w1, w2)
        |         LEFT JOIN bo2 USING (w2, w3) LEFT JOIN mid USING (w2)
        |         LEFT JOIN uni USING (w3) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN tier = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
        |  CAST(sum(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
        |  CAST(sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
        |  CAST(sum(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(lp) AS BIGINT) AS sum_logp_x1e6
        |FROM sc GROUP BY doc_id""".stripMargin)
    )),

    // Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
    // Goodman 1998's winner) — the canonical smoothing next to
    // text_trigram_backoff's stupid backoff: absolute discount D=0.75 on
    // seen bigrams, the freed mass λ(w1) = D·N1+(w1·)/c(w1) interpolated
    // with the CONTINUATION probability (how many distinct contexts a
    // word completes, not how often it occurs — the insight that makes
    // KN the default). Continuation gets +1/(T+V) smoothing so every
    // position scores finite (OOV included). Train on even doc_ids,
    // score every doc; all inputs are exact integer count tables met on
    // equi-joins, each position's log-prob is one double expression
    // floored to millionths, summed order-free. Scale shape: four
    // count-table equi-joins against the position stream, none
    // broadcast-forced (a web-scale bigram table must shuffle-join).
    "text_kneser_ney" -> ((
      (s: SparkSession, dir: String) => {
        val bg = docs(s, dir)
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> length(x) > 0)").as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1), i -> named_struct(" +
              "'w1', element_at(t, i), 'w2', element_at(t, i + 1)))")).as("x"))
          .select(col("doc_id"), col("x.w1").as("w1"), col("x.w2").as("w2"))
          .eagerPersisted
        val train = bg.filter(pmod(col("doc_id"), lit(2)) === 0)
        val types = train.select("w1", "w2").distinct()
          .eagerPersisted
        val c12 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c1 = train.groupBy("w1").agg(count(lit(1)).as("c1"),
          countDistinct("w2").as("n1p"))
        val cont = types.groupBy("w2").agg(count(lit(1)).as("ncont"))
        val tot = types.agg(count(lit(1)).as("tt"),
          countDistinct("w2").as("vv"))
        val pcont = (coalesce(col("ncont"), lit(0L)).cast("double") + 1.0) /
          (col("tt") + col("vv") + 1)
        val scored = bg
          .join(c12, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .join(cont, Seq("w2"), "left")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            when(col("c12").isNotNull, 1L).otherwise(0L).as("seen"),
            floor(lit(1e6) * log(
              when(col("c1").isNotNull,
                greatest(coalesce(col("c12"), lit(0L)).cast("double") - 0.75, lit(0.0))
                  / col("c1")
                  + (lit(0.75) * col("n1p") / col("c1")) * pcont)
                .otherwise(pcont))).cast("long").as("lp"))
        scored.groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_pos"),
            sum("seen").cast("long").as("n_seen"),
            sum("lp").cast("long").as("sum_logp_x1e6"))
      },
      Some("""WITH d AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> length(x) > 0) AS t FROM documents),
        |u AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM d WHERE len(t) >= 2),
        |p AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM u),
        |tr AS (SELECT * FROM p WHERE doc_id % 2 = 0),
        |ty AS (SELECT DISTINCT w1, w2 FROM tr),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1p FROM tr GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS ncont FROM ty GROUP BY 1),
        |tot AS (SELECT count(*) AS tt, count(DISTINCT w2) AS vv FROM ty),
        |sc AS (SELECT p.doc_id,
        |    CASE WHEN c12.c12 IS NOT NULL THEN 1 ELSE 0 END AS seen,
        |    CAST(floor(1e6 * ln(
        |      CASE WHEN c1.c1 IS NOT NULL
        |        THEN greatest(CAST(coalesce(c12.c12, 0) AS DOUBLE) - 0.75, 0.0) / c1.c1
        |          + (0.75 * c1.n1p / c1.c1)
        |            * ((CAST(coalesce(cont.ncont, 0) AS DOUBLE) + 1.0) / (tot.tt + tot.vv + 1))
        |        ELSE (CAST(coalesce(cont.ncont, 0) AS DOUBLE) + 1.0) / (tot.tt + tot.vv + 1)
        |      END)) AS BIGINT) AS lp
        |  FROM p LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
        |         LEFT JOIN cont USING (w2) CROSS JOIN tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
        |  CAST(sum(seen) AS BIGINT) AS n_seen,
        |  CAST(sum(lp) AS BIGINT) AS sum_logp_x1e6
        |FROM sc GROUP BY doc_id""".stripMargin)
    )),

    // Jensen–Shannon divergence between two corpus halves' unigram
    // distributions (even vs odd doc_ids) — the symmetric, bounded
    // [0, ln2] companion to dq_drift_psi for TEXT drift: the number a
    // pipeline tracks to decide whether a new crawl slice changed the
    // language mix enough to re-tune filters. One token aggregate with
    // conditional halves, then per-word JS terms (p·ln(2p/(p+q)) and the
    // mirror) floored to nano-units and summed order-free — vocabulary-
    // sized shuffle, never token-sized, and no pair relation anywhere.
    "text_jensen_shannon" -> ((
      (s: SparkSession, dir: String) => {
        val tok = docs(s, dir)
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' '), x -> length(x) > 0)")).as("w"))
          .select(col("w"), pmod(col("doc_id"), lit(2)).as("half"))
        val counts = tok.groupBy("w").agg(
          sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
          .eagerPersisted
        val tot = counts.agg(sum("ca").as("ta"), sum("cb").as("tb"))
        val p = col("ca").cast("double") / col("ta")
        val q2 = col("cb").cast("double") / col("tb")
        counts.crossJoin(broadcast(tot))
          .select(
            (when(col("ca") > 0, floor(lit(1e9) * lit(0.5) * p
                * log(lit(2.0) * p / (p + q2)))).otherwise(lit(0L)) +
              when(col("cb") > 0, floor(lit(1e9) * lit(0.5) * q2
                * log(lit(2.0) * q2 / (p + q2)))).otherwise(lit(0L)))
              .cast("long").as("term"))
          .agg(count(lit(1)).as("n_words"), sum("term").as("js_nano"))
      },
      Some("""WITH tok AS (SELECT doc_id % 2 AS half, unnest(
        |    list_filter(string_split(text, ' '), x -> length(x) > 0)) AS w
        |  FROM documents),
        |c AS (SELECT w, sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb FROM c),
        |terms AS (SELECT
        |    CASE WHEN ca > 0 THEN CAST(floor(1e9 * 0.5 * (CAST(ca AS DOUBLE) / ta)
        |      * ln(2.0 * (CAST(ca AS DOUBLE) / ta)
        |        / (CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb))) AS BIGINT)
        |    ELSE 0 END
        |    + CASE WHEN cb > 0 THEN CAST(floor(1e9 * 0.5 * (CAST(cb AS DOUBLE) / tb)
        |      * ln(2.0 * (CAST(cb AS DOUBLE) / tb)
        |        / (CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb))) AS BIGINT)
        |    ELSE 0 END AS term
        |  FROM c CROSS JOIN t)
        |SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(term) AS BIGINT) AS js_nano FROM terms""".stripMargin)
    )),

    // Feature hashing (the hashing trick): tokens folded into 16 buckets
    // by the first hex digit of md5 — an engine-portable stand-in for the
    // xxhash bucket a production featurizer uses (Spark's and DuckDB's
    // md5 agree; their native hashes don't). Emits the sparse count
    // vector rows a linear model trains on; one narrow scan + aggregate.
    "text_feature_hashing" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .select(col("doc_id"),
            expr("CAST(instr('123456789abcdef', substring(md5(tok), 1, 1)) AS BIGINT)").as("bucket"))
          .groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("cnt")),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |t AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0)
        |SELECT doc_id,
        |  CAST(strpos('123456789abcdef', substr(md5(tok), 1, 1)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM t GROUP BY 1, 2""".stripMargin)
    )),

    // Batch twin of StreamOps.lmFilterStream (model-based quality filter
    // in-stream): unigram LM trained on the even-doc_id half, odd docs
    // kept only when their mean token log-prob clears the threshold,
    // unseen tokens scoring a floor penalty. The dedup stream twins drop
    // KNOWN content; this drops IMPROBABLE content - the two halves of
    // ingestion-time curation. 152 of 250 held-out docs survive at
    // sf0.01, so the filter genuinely separates.
    "stream_lm_filter" -> ((
      (s: SparkSession, dir: String) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .eagerPersisted
        val tr = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
        val lm = tr.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(tr.agg(count(lit(1)).as("total"))))
          .select(col("tok"),
            floor(lit(1e6) * log(col("cnt").cast("double") / col("total")))
              .cast("long").as("lp"))
        toks.filter(pmod(col("doc_id"), lit(2)) === 1)
          .join(lm, Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("lp"), lit(-15000000L))).as("slp"))
          .filter(col("slp") >= col("n") * lit(-3405000L))
          .select("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0),
        |tr AS (SELECT tok FROM t WHERE doc_id % 2 = 0),
        |freq AS (SELECT tok, count(*) AS cnt FROM tr GROUP BY tok),
        |tot AS (SELECT count(*) AS total FROM tr),
        |lm AS (SELECT tok, CAST(floor(1e6 * ln(CAST(cnt AS DOUBLE) / total)) AS BIGINT) AS lp
        |       FROM freq, tot),
        |sc AS (SELECT t.doc_id, count(*) AS n,
        |         sum(coalesce(lm.lp, -15000000)) AS slp
        |       FROM t LEFT JOIN lm USING (tok) WHERE t.doc_id % 2 = 1 GROUP BY 1)
        |SELECT doc_id FROM sc WHERE slp >= n * -3405000""".stripMargin)
    )),

    // Train/test split leakage: hash-split the corpus 80/20, then find
    // test docs with a near-duplicate in train — the leakage that
    // inflates eval scores when dedup runs before splitting but not
    // ACROSS the split. Complements text_decontaminate (which checks
    // n-gram overlap against a fixed eval set); this audits the split
    // itself via the exact-Jaccard pair graph. Emits each leaked test
    // doc with its train-side witness count.
    "q_split_leakage" -> ((
      (s: SparkSession, dir: String) => {
        val pairs = QueryUtil.nearDupEdges(docs(s, dir))
        val sym = pairs.unionAll(
          pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        // doc_a = candidate test doc, doc_b = potential train witness
        sym.filter(pmod(col("doc_a"), lit(10)) >= 8)
          .filter(pmod(col("doc_b"), lit(10)) < 8)
          .groupBy(col("doc_a").as("doc_id"))
          .agg(count(lit(1)).as("train_witnesses"))
      },
      Some(s"""WITH ${OracleSql.jaccardPairs},
        |sym AS (SELECT doc_a, doc_b FROM jp UNION ALL SELECT doc_b, doc_a FROM jp)
        |SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT) AS train_witnesses
        |FROM sym WHERE doc_a % 10 >= 8 AND doc_b % 10 < 8
        |GROUP BY 1""".stripMargin)
    )),

    // Novelty scoring: what fraction of a document's shingles appear
    // NOWHERE else in the corpus (df = 1) — high novelty marks original
    // content, low novelty marks boilerplate/near-dup mass; data-mixing
    // pipelines upweight novel documents. One df aggregate over the
    // shingle relation + one per-doc aggregate, integer per-mille.
    "text_novelty" -> ((
      (s: SparkSession, dir: String) => {
        val sh = Dedup.shingleRelation(docs(s, dir), n = 3)
          .select(col("doc_id"), explode(col("hs")).as("h"))
          .eagerPersisted
        val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
        sh.join(df, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel"))
          .select(col("doc_id"), col("n_sh"),
            expr("novel * 1000 div n_sh").as("novel_per_mille"))
      },
      Some(s"""WITH ${OracleSql.shingles3},
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000 // count(*) AS novel_per_mille
        |FROM sh JOIN df USING (s) GROUP BY doc_id""".stripMargin)
    )),

    // The k-NN graph over the whole embedding corpus (k = 5) — the
    // structure ANN-graph indexes, semantic-dedup clustering, and
    // label-propagation all start from. This brute-force entry is the
    // ORACLE TWIN (O(N²) corpus-vs-corpus — never the production plan);
    // vector_knn_graph_pivoted below is the scale path.
    "vector_knn_graph" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.bruteForceTopK(e, e, k = 5)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, e.v) AS c
        |  FROM e q JOIN e ON e.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin)
    )),

    // The SCALE path for the corpus k-NN graph: pivot-partitioned cells
    // (Similarity.knnGraphPivoted) — nearest-pivot assignment + nProbe
    // probed cells bound the candidate set to ~nProbe/nPivots of the
    // corpus per query, with no corpus broadcast and no N² product.
    // Pivots are the 32 lowest vec_ids, so the ENTIRE celled plan —
    // assignment, probes, candidates, ranking — replays exactly in the
    // oracle; the brute-force entry above remains the recall reference.
    "vector_knn_graph_pivoted" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.knnGraphPivoted(emb(s, dir), k = 5, nPivots = 32, nProbe = 4)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rnk")),
      Some(s"""WITH ${OracleSql.pivotScored("scored")}
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM scored QUALIFY rnk <= 5""".stripMargin)
    )),

    // Graph-ANN: one beam-search hop (neighbors-of-neighbors) over the
    // pivoted k-NN graph, exact-cosine re-ranked — the recall tier between
    // IVF probing and brute force. Fully deterministic (lowest-id pivots,
    // id tie-breaks), so unlike the KMeans ANN entries the RANKING itself
    // is replayed in SQL, not just its properties. ScaleSpec asserts the
    // no-cartesian plan and recall >= the pure cell-probe graph at equal k.
    "ann_graph_topk" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.graphTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5,
            nPivots = 32, nProbe = 4, graphK = 5)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rnk"))
      },
      Some(s"""WITH ${OracleSql.graphBeam("scored")}
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM rescored QUALIFY rnk <= 5""".stripMargin)
    )),

    // Recall@k evaluation of the ANN index against brute-force ground
    // truth — the measurement a pipeline runs before trusting an index at
    // corpus scale. Uses the graph-beam tier because BOTH rankings replay
    // exactly in SQL (deterministic pivots + cosine + id tie-breaks), so
    // unlike the tolerance-band ANN oracles the recall numbers themselves
    // are oracle-exact per query. Scale shape: the expensive side (exact
    // ground truth) is restricted to the query sample — the standard
    // recall-audit design — while the index side stays candidate-bounded.
    "ann_recall_eval" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 8).limit(8)
        // recall = found ÷ |ground truth|, counted FROM the truth side —
        // dividing by the index's own answer size would report precision
        // and overstate recall exactly when the index returns few or no
        // candidates (a truth-side left join keeps those queries at 0)
        val approx = Similarity.graphTopK(e, q, k = 5,
            nPivots = 32, nProbe = 4, graphK = 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
        val truth = Similarity.bruteForceTopK(e, q, k = 5)
          .select(col("query_id"), col("neighbor_id"))
        truth.join(approx, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).cast("long").as("k"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
          .select(col("query_id"), col("k"), col("n_hit"),
            expr("n_hit * 100 div k").as("recall_pct"))
      },
      Some(s"""WITH ${OracleSql.graphBeam("scored")},
        |approx AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
        |  FROM rescored QUALIFY rnk <= 5),
        |truth AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rnk
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 8 QUALIFY rnk <= 5)
        |SELECT t.query_id, CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100
        |    // count(*) AS BIGINT) AS recall_pct
        |FROM truth t LEFT JOIN approx a USING (query_id, neighbor_id)
        |GROUP BY t.query_id""".stripMargin)
    )),

    // Ranking-QUALITY eval (nDCG@5) of the graph-ANN tier — recall says
    // whether the right documents appear, nDCG says whether they appear
    // in the right ORDER: graded relevance = 6 − true rank (5..1, 0
    // off-list), per-POSITION terms floored to micros and summed as
    // integers (a double DCG sum would be reduction-order-dependent),
    // normalized by the same-algebra ideal DCG. Both rankings replay in
    // SQL, so the per-query nDCG is oracle-exact — the companion metric
    // to ann_recall_eval.
    "ann_ndcg_eval" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 8).limit(8)
        val approx = Similarity.graphTopK(e, q, k = 5,
            nPivots = 32, nProbe = 4, graphK = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("pos"))
        val truth = Similarity.bruteForceTopK(e, q, k = 5)
          .select(col("query_id"), col("neighbor_id"),
            (lit(6L) - col("rank")).as("rel"))
        val idcg = (1 to 5).map(i => math.floor(1e6 * (6 - i) / (math.log(i + 1) / math.log(2))).toLong).sum
        approx.join(truth, Seq("query_id", "neighbor_id"), "left")
          .select(col("query_id"),
            floor(lit(1e6) * coalesce(col("rel"), lit(0L))
              / (log(col("pos") + 1) / log(lit(2.0)))).cast("long").as("term_micro"))
          .groupBy("query_id")
          .agg(sum("term_micro").as("dcg_micro"))
          .select(col("query_id"), col("dcg_micro"),
            expr(s"dcg_micro * 1000 div ${idcg}L").as("ndcg_pm"))
      },
      Some(s"""WITH ${OracleSql.graphBeam("scored")},
        |approx AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS pos
        |  FROM rescored QUALIFY pos <= 5),
        |truth AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    6 - row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rel
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 8
        |  QUALIFY rel >= 1),
        |terms AS (SELECT a.query_id,
        |    CAST(floor(1e6 * coalesce(t.rel, 0) / (ln(a.pos + 1) / ln(2.0))) AS BIGINT) AS tm
        |  FROM approx a LEFT JOIN truth t USING (query_id, neighbor_id)),
        |idcg AS (SELECT CAST(sum(CAST(floor(1e6 * (6 - i) / (ln(i + 1) / ln(2.0))) AS BIGINT)) AS BIGINT) AS v
        |  FROM unnest(range(1, 6)) AS t(i))
        |SELECT query_id, CAST(sum(tm) AS BIGINT) AS dcg_micro,
        |  CAST(sum(tm) * 1000 // (SELECT v FROM idcg) AS BIGINT) AS ndcg_pm
        |FROM terms GROUP BY 1""".stripMargin)
    )),

    // Reciprocal-rank fusion of three ANN tiers (brute exact, graph
    // beam, PQ-ADC): contribution 1e6 div (60 + rank) per tier, summed,
    // re-ranked - the standard production trick for combining retrieval
    // channels without score calibration. All three input rankings
    // replay exactly in SQL, so the FUSED ranking is oracle-exact too:
    // the whole retrieval stack is checked end-to-end.
    "ann_rrf_fusion" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 8).limit(8)
        val brute = Similarity.bruteForceTopK(e, q, k = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("r"))
        // the graph leg (knn-graph build + edge cache fills) and the PQ
        // leg (quantize fill + Lloyd round) both construct EAGERLY and
        // are independent — overlap them from driver threads (guide
        // §2.6); the brute leg is lazy and rides the final fused query
        val (beam, adc) = QueryUtil.inParallel(
          Similarity.graphTopK(e, q, k = 5, nPivots = 32, nProbe = 4, graphK = 5)
            .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("r")),
          Similarity.pqAdcTopK(e, q, k = 5, nSub = 4, subDim = 16,
              kCodes = 4, iters = 1)
            .select(col("query_id"), col("neighbor_id"), col("rnk").as("r")))
        val fused = brute.unionAll(beam).unionAll(adc)
          .select(col("query_id"), col("neighbor_id"),
            expr("1000000 div (60 + r)").as("c"))
          .groupBy("query_id", "neighbor_id").agg(sum("c").as("rrf"))
        val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("neighbor_id"))
        fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
          .select(col("query_id"), col("neighbor_id"),
            col("rnk").cast("long").as("rnk"), col("rrf"))
      },
      Some(s"""WITH ${OracleSql.graphBeam("scoredg")},
        |approx AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rnk
        |  FROM rescored QUALIFY rnk <= 5),
        |bt AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rnk
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 8 QUALIFY rnk <= 5),
        |eq AS (SELECT vec_id,
        |  list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |uq AS (SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS sub,
        |        CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
        |      FROM eq, unnest(range(1, len(q) + 1)) AS t(i)),
        |c0 AS (SELECT vec_id AS cl, sub, idx, qv AS cv FROM uq
        |       WHERE vec_id IN (SELECT DISTINCT vec_id FROM uq ORDER BY vec_id LIMIT 4)),
        |s0 AS (SELECT u.vec_id, u.sub, c.cl, sum((u.qv - c.cv) * (u.qv - c.cv)) AS d2
        |       FROM uq u JOIN c0 c ON c.sub = u.sub AND c.idx = u.idx GROUP BY 1, 2, 3),
        |a0 AS (SELECT vec_id, sub, cl FROM (SELECT vec_id, sub, cl,
        |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rn FROM s0)
        |       WHERE rn = 1),
        |c1 AS (SELECT a.cl, u.sub, u.idx,
        |         CAST(floor(CAST(sum(u.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |       FROM uq u JOIN a0 a ON a.vec_id = u.vec_id AND a.sub = u.sub GROUP BY 1, 2, 3),
        |s1 AS (SELECT u.vec_id, u.sub, c.cl, sum((u.qv - c.cv) * (u.qv - c.cv)) AS d2
        |       FROM uq u JOIN c1 c ON c.sub = u.sub AND c.idx = u.idx GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, sub, cl FROM (SELECT vec_id, sub, cl,
        |         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rn FROM s1)
        |       WHERE rn = 1),
        |dtab AS (SELECT q.vec_id AS query_id, c.sub, c.cl,
        |           sum((q.qv - c.cv) * (q.qv - c.cv)) AS dq
        |         FROM uq q JOIN c1 c ON c.sub = q.sub AND c.idx = q.idx
        |         WHERE q.vec_id < 8 GROUP BY 1, 2, 3),
        |scq AS (SELECT d.query_id, k.vec_id, CAST(sum(d.dq) AS BIGINT) AS adist
        |       FROM codes k JOIN dtab d ON d.sub = k.sub AND d.cl = k.cl
        |       WHERE d.query_id != k.vec_id GROUP BY 1, 2),
        |adcr AS (SELECT query_id, vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rnk
        |  FROM scq QUALIFY rnk <= 5),
        |allr AS (SELECT query_id, neighbor_id, rnk FROM approx
        |  UNION ALL SELECT query_id, neighbor_id, rnk FROM bt
        |  UNION ALL SELECT query_id, neighbor_id, rnk FROM adcr),
        |fused AS (SELECT query_id, neighbor_id,
        |    CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf
        |  FROM allr GROUP BY 1, 2)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rnk,
        |  rrf
        |FROM fused QUALIFY rnk <= 5""".stripMargin)
    )),

    // Two-hop beam: the same graph search with one more frontier
    // expansion — neighbors-of-neighbors-of-neighbors, ≤ graphK+graphK²
    // +graphK³ candidates per query, still ids-only self-joins of the edge
    // relation. Recall is monotone in hops by construction (the candidate
    // set only grows — ScaleSpec asserts it against the 1-hop tier); this
    // is the knob a 100 TB deployment turns instead of raising nProbe,
    // because hops follow the neighborhood structure while probes re-scan
    // whole cells. Ranking replays exactly in SQL (hop2 CTE added).
    "ann_graph_multihop" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        Similarity.graphTopK(e, e.filter(col("vec_id") < 8).limit(8), k = 5,
            nPivots = 32, nProbe = 4, graphK = 5, hops = 2)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").cast("long").as("rnk"))
      },
      Some(s"""WITH ${OracleSql.pivotGraph("scored")},
        |hop1 AS (SELECT DISTINCT s.query_id, g2.dst AS cand
        |         FROM seeds s JOIN g g2 ON g2.src = s.cand),
        |hop2 AS (SELECT DISTINCT h.query_id, g3.dst AS cand
        |         FROM hop1 h JOIN g g3 ON g3.src = h.cand),
        |beam AS (
        |  SELECT DISTINCT query_id, cand
        |  FROM (SELECT * FROM seeds UNION ALL SELECT * FROM hop1
        |        UNION ALL SELECT * FROM hop2)
        |  WHERE cand <> query_id),
        |rescored AS (
        |  SELECT b.query_id, b.cand AS neighbor_id, list_cosine_similarity(q.v, n.v) AS cs
        |  FROM beam b JOIN e q ON q.vec_id = b.query_id
        |  JOIN e n ON n.vec_id = b.cand)
        |SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS BIGINT) AS rnk
        |FROM rescored QUALIFY rnk <= 5""".stripMargin)
    )),

    // Greedy sequence packing — the LLM-training "sample packing" step:
    // fill a 256-token context window doc-by-doc in doc_id order within
    // each source, opening a new bin when the next doc would overflow
    // (next-fit; docs are never split, unlike q_pack_shards' offset-range
    // sharding). The fold is inherently sequential PER GROUP, so the right
    // distributed shape is groupByKey(source).flatMapSortedGroups(doc_id):
    // sources pack in parallel across executors, each group streams through
    // one sorted iterator with O(1) state — no window over a global sort,
    // no collect. The oracle replays the same fold as a DuckDB recursive
    // CTE stepping rn → rn+1 per source.
    "q_pack_greedy" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        docs(s, dir)
          .select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .flatMapSortedGroups(col("doc_id")) { (src, it) =>
            var bin = 0L
            var binTok = 0L
            var first = true
            it.map { case (_, docId, tk) =>
              if (first) { binTok = tk; first = false }
              else if (binTok + tk > 256L) { bin += 1; binTok = tk }
              else binTok += tk
              (src, docId, tk, bin)
            }
          }
          .toDF("source", "doc_id", "tokens", "bin")
      },
      Some("""WITH RECURSIVE t AS (
        |  SELECT source, doc_id,
        |    CAST(CASE WHEN length(text) = 0 THEN 0
        |         ELSE len(string_split(text, ' ')) END AS BIGINT) AS tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents),
        |rec AS (
        |  SELECT source, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
        |         tokens AS bin_tok
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.doc_id, t.tokens,
        |    CASE WHEN rec.bin_tok + t.tokens > 256 THEN rec.bin + 1
        |         ELSE rec.bin END,
        |    CASE WHEN rec.bin_tok + t.tokens > 256 THEN t.tokens
        |         ELSE rec.bin_tok + t.tokens END
        |  FROM rec JOIN t ON t.source = rec.source AND t.rn = rec.rn + 1)
        |SELECT source, doc_id, tokens, bin FROM rec""".stripMargin)
    )),

    // BM25 retrieval scoring against a fixed query-term set — the lexical
    // ranking half of every RAG/retrieval pipeline. Okapi BM25 with
    // k1=1.2, b=0.75: idf from corpus document frequency, tf saturation
    // with document-length normalization. Per-(doc, term) scores are one
    // identical chain of IEEE double ops on integer inputs in both
    // engines, floored to micros, then summed as integers — order-free
    // and hash-exact. Scale shape: the idf table is |query-terms| rows
    // (broadcast); doc length and tf are two hash aggregates over the
    // token stream; nothing global.
    "text_bm25" -> ((
      (s: SparkSession, dir: String) => {
        val terms = Seq("hash", "join", "scan")
        val toks = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .eagerPersisted
        val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
        val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
        val tf = toks.filter(col("tok").isin(terms: _*))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val idf = QueryUtil.bm25Idf(tf.groupBy("tok").agg(count(lit(1)).as("df")), stats)
        tf// no idf hint: idf is VOCABULARY-sized (grows with the corpus);
          // AQE broadcasts it while it fits, shuffles when it does not
          .join(idf, "tok").join(dl, "doc_id")
          .select(col("doc_id"), QueryUtil.bm25TermMicro.as("term_micro"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_terms"),
            sum("term_micro").cast("long").as("bm25_micro"))
      },
      Some(s"""WITH ${OracleSql.bm25Stats},
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |       WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2),
        |${OracleSql.bm25Idf},
        |sc AS (SELECT tf.doc_id,
        |    CAST(floor(1e6 * idf * (tf * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS BIGINT) AS term_micro
        |  FROM tf JOIN idf USING (tok) JOIN dl ON tf.doc_id = dl.doc_id)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(term_micro) AS BIGINT) AS bm25_micro
        |FROM sc GROUP BY 1""".stripMargin)
    )),

    // Lognormal fit of document lengths per source (method of moments on
    // ln n): the distributional fact every corpus report states — web
    // text lengths are lognormal-ish, and a source whose (μ, σ) moves is
    // a changed crawler. Emitted as exact integer moment sums of
    // floored-micro ln terms (s1 = Σ⌊10⁶·ln n⌋, s2 = Σ⌊10⁶·ln n⌋² —
    // order-free; μ̂, σ̂² are one division downstream) plus the per-mille
    // mean for direct reading.
    "text_length_lognormal" -> ((
      (s: SparkSession, dir: String) => {
        val n = size(TextAnalysis.tokens(col("text")))
        docs(s, dir).filter(n >= 1)
          .select(col("source"),
            floor(lit(1e6) * log(n.cast("double"))).cast("long").as("l"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("l").as("s1"),
            sum(col("l") * col("l")).as("s2"))
          .select(col("source"), col("n_docs"), col("s1"), col("s2"),
            expr("s1 div n_docs").as("mu_micro"))
      },
      Some("""WITH t AS (SELECT source,
        |    CASE WHEN length(text) = 0 THEN 0 ELSE len(string_split(text, ' ')) END AS n
        |  FROM documents),
        |l AS (SELECT source, CAST(floor(1e6 * ln(CAST(n AS DOUBLE))) AS BIGINT) AS l
        |  FROM t WHERE n >= 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(l) AS BIGINT) AS s1, CAST(sum(l * l) AS BIGINT) AS s2,
        |  CAST(sum(l) // count(*) AS BIGINT) AS mu_micro
        |FROM l GROUP BY 1""".stripMargin)
    )),

    // Corpus conditional-entropy rate H(w'|w) from the bigram model —
    // the compressibility/diversity scalar a corpus report leads with
    // (a template-heavy corpus has low entropy rate; dedup raises it):
    // H = −Σ_{w,w'} p(w,w') · log p(w'|w), computed as per-bigram
    // floored-micro terms −c(w,w')·ln(c(w,w')/c(w·)) summed as exact
    // integers, then divided by the total bigram count in one double
    // step. Two hash aggregates + one join — a scan-shaped statistic.
    "text_entropy_rate" -> ((
      (s: SparkSession, dir: String) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(expr("filter(t, x -> length(x) > 0)").as("t"))
          .filter(size(col("t")) >= 2)
        val bi = toks
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("cab"))
        val ua = bi.groupBy("a").agg(sum("cab").as("ca"))
        bi.join(ua, "a")
          .select(
            floor(lit(-1e6) * col("cab")
              * log(col("cab").cast("double") / col("ca"))).cast("long").as("term"),
            col("cab"))
          .agg(sum("term").as("sum_term_micro"), sum("cab").as("n_bigrams"))
          .select(col("n_bigrams"), col("sum_term_micro"),
            floor(col("sum_term_micro").cast("double") / col("n_bigrams"))
              .cast("long").as("entropy_rate_micro"))
      },
      Some("""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        |  FROM documents),
        |bi AS (SELECT t[i] AS a, t[i+1] AS b, CAST(count(*) AS BIGINT) AS cab
        |  FROM toks, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2 GROUP BY 1, 2),
        |ua AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM bi GROUP BY 1),
        |terms AS (SELECT
        |    CAST(floor(-1e6 * cab * ln(CAST(cab AS DOUBLE) / ca)) AS BIGINT) AS term,
        |    cab
        |  FROM bi JOIN ua USING (a)),
        |agg AS (SELECT CAST(sum(term) AS BIGINT) AS sum_term_micro,
        |    CAST(sum(cab) AS BIGINT) AS n_bigrams FROM terms)
        |SELECT n_bigrams, sum_term_micro,
        |  CAST(floor(CAST(sum_term_micro AS DOUBLE) / n_bigrams) AS BIGINT) AS entropy_rate_micro
        |FROM agg""".stripMargin)
    )),

    // Collocation mining: top-50 adjacent-bigram PMI over the corpus —
    // the classic phrase-detection pass (Mikolov-style word2phrase) that
    // decides which token pairs act as single units before tokenizer
    // training. PMI is one identical double chain (ln of an
    // integer-product ratio) floored to micros; candidates need count ≥ 5
    // so rare-pair noise never reaches the ranking. The top-50 is
    // sort+limit — TakeOrderedAndProject's per-partition bounded heaps,
    // not a global window over the full bigram vocabulary.
    "text_pmi_colloc" -> ((
      (s: SparkSession, dir: String) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .select(col("doc_id"), expr("filter(t, x -> length(x) > 0)").as("t"))
        val uni = toks.select(explode(col("t")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .eagerPersisted
        val utot = uni.agg(sum("c").as("u"))
        val bi = toks.filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("cab"))
          .eagerPersisted
        val btot = bi.agg(sum("cab").as("btot"))
        val ua = uni.select(col("tok").as("a"), col("c").as("ca"))
        val ub = uni.select(col("tok").as("b"), col("c").as("cb"))
        val w = Window.orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc)
        bi.filter(col("cab") >= 5)
          .join(ua, "a").join(ub, "b")
          .crossJoin(broadcast(utot)).crossJoin(broadcast(btot))
          .select(col("a"), col("b"), col("cab"),
            floor(lit(1e6) * log((col("cab").cast("double") * col("u") * col("u"))
              / (col("btot").cast("double") * col("ca") * col("cb"))))
              .cast("long").as("pmi_micro"))
          .orderBy(col("pmi_micro").desc, col("a").asc, col("b").asc).limit(50)
          .withColumn("rnk", row_number().over(w).cast("long"))
      },
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        |             FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
        |utot AS (SELECT sum(c) AS u FROM uc),
        |pairs AS (SELECT t[i] AS a, t[i + 1] AS b
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
        |bc AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2),
        |btot AS (SELECT sum(cab) AS btot FROM bc),
        |sc AS (SELECT a, b, CAST(cab AS BIGINT) AS cab,
        |    CAST(floor(1e6 * ln((CAST(cab AS DOUBLE) * u * u)
        |      / (CAST(btot AS DOUBLE) * ca.c * cb.c))) AS BIGINT) AS pmi_micro
        |  FROM bc JOIN uc ca ON bc.a = ca.tok JOIN uc cb ON bc.b = cb.tok,
        |       utot, btot
        |  WHERE cab >= 5)
        |SELECT a, b, cab, pmi_micro,
        |  CAST(row_number() OVER (ORDER BY pmi_micro DESC, a, b) AS BIGINT) AS rnk
        |FROM sc QUALIFY rnk <= 50""".stripMargin)
    )),

    // k-NN majority-vote label classifier over the pivoted-cell k-NN
    // graph — the label-propagation / auto-labeling step a curation
    // pipeline runs over partially-labeled embeddings. Composes the
    // SQL-replayable celled candidate plan (deterministic pivots, no
    // corpus×corpus product) with two hash aggregates: vote counts per
    // (query, label), then a deterministic argmax via max(struct(votes,
    // -label)) — ties break to the smallest label in both engines. The
    // `correct` column makes the entry its own accuracy report.
    "vector_knn_classifier" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val lbl = e.select(col("vec_id"), col("label").cast("long").as("lbl"))
        val g = Similarity.knnGraphPivoted(e, k = 5, nPivots = 32, nProbe = 4)
        val votes = g
          .join(lbl.select(col("vec_id").as("neighbor_id"), col("lbl").as("n_lbl")),
            "neighbor_id")
          .groupBy("query_id", "n_lbl").agg(count(lit(1)).as("v"))
        votes.groupBy("query_id")
          .agg(max(struct(col("v"), (-col("n_lbl")).as("neg"))).as("m"))
          .select(col("query_id"), (-col("m.neg")).cast("long").as("pred_label"),
            col("m.v").cast("long").as("votes"))
          .join(lbl.select(col("vec_id").as("query_id"), col("lbl").as("true_label")),
            "query_id")
          .select(col("query_id"), col("true_label"), col("pred_label"), col("votes"),
            (col("pred_label") === col("true_label")).as("correct"))
      },
      Some(s"""WITH ${OracleSql.pivotScored("scored")},
        |knn AS (SELECT query_id, neighbor_id FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) <= 5),
        |votes AS (SELECT query_id, CAST(l.label AS BIGINT) AS n_lbl, count(*) AS v
        |  FROM knn JOIN embeddings l ON l.vec_id = neighbor_id GROUP BY 1, 2),
        |pred AS (SELECT query_id, n_lbl, v,
        |    row_number() OVER (PARTITION BY query_id ORDER BY v DESC, n_lbl) AS pr
        |  FROM votes)
        |SELECT query_id, CAST(q.label AS BIGINT) AS true_label, n_lbl AS pred_label,
        |  CAST(v AS BIGINT) AS votes, n_lbl = CAST(q.label AS BIGINT) AS correct
        |FROM pred JOIN embeddings q ON q.vec_id = query_id
        |WHERE pr = 1""".stripMargin)
    )),

    // The BPE merge-step primitive: corpus-wide adjacent CHARACTER-pair
    // frequencies inside distinct words, weighted by word frequency —
    // exactly the statistic byte-pair-encoding tokenizer training
    // maximizes at every merge (text_token_bpe applies a finished
    // tokenizer; this computes what training needs). Pair explosion
    // runs over the DISTINCT word table (vocabulary-sized, not
    // corpus-sized) with integer weights joined back on — the
    // aggregate-over-vocab shape that makes merge rounds affordable at
    // 100 TB. Top-20 via bounded heaps.
    "text_bpe_pairs" -> ((
      (s: SparkSession, dir: String) => {
        val words = docs(s, dir)
          .select(explode(split(col("text"), " ")).as("wd"))
          .filter(length(col("wd")) >= 2)
          .groupBy("wd").agg(count(lit(1)).as("freq"))
        val w = Window.orderBy(col("wsum").desc, col("pair").asc)
        words
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(wd) - 1), i -> substr(wd, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum("freq").as("wsum"))
          .orderBy(col("wsum").desc, col("pair").asc).limit(20)
          .withColumn("rnk", row_number().over(w).cast("long"))
      },
      Some("""WITH words AS (
        |  SELECT wd, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
        |  WHERE length(wd) >= 2 GROUP BY wd),
        |pairs AS (
        |  SELECT substr(wd, i, 2) AS pair, freq
        |  FROM (SELECT wd, freq, unnest(range(1, length(wd))) AS i FROM words)),
        |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS wsum FROM pairs GROUP BY 1)
        |SELECT pair, wsum,
        |  CAST(row_number() OVER (ORDER BY wsum DESC, pair) AS BIGINT) AS rnk
        |FROM c QUALIFY rnk <= 20""".stripMargin)
    )),

    // FULL BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterative
    // merge loop, not one statistic: 8 rounds of count-weighted-pairs →
    // pick-best → greedy left-to-right merge over the vocabulary relation.
    // Output is the ordered merge table, i.e. the artifact a trained
    // tokenizer IS. Spark applies each merge as a partition-local
    // aggregate() fold per word (state = (out, skip) — the Sennrich
    // non-overlap rule); the oracle replays every round relationally:
    // greedy selection = gaps-and-islands on the match positions (in a run
    // of consecutive matches, keep the odd offsets), rebuild via
    // lead()+renumber. Two INDEPENDENT formulations of the same semantics,
    // unrolled 8× in SQL by a generator. Everything after the one corpus
    // scan is vocabulary-sized (the shape that makes training affordable
    // at 100 TB); per-round lineage truncates with one eager
    // localCheckpoint (the CC-fixpoint discipline).
    "text_bpe_train" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.bpeTrain(docs(s, dir), rounds = bpeRounds),
      Some(bpeOracleSql(bpeRounds,
        (1 to bpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, pa AS pair_a, pb AS pair_b, wsum FROM b$r")
          .mkString("", "\nUNION ALL ", "")))
    )),

    // The trained tokenizer's VOCABULARY: every distinct token the merge
    // table can emit, with corpus occurrence counts — the second half of
    // the tokenizer artifact, and the round-count diagnostic (vocab growth
    // per merge). Same loop, same oracle chain, final state exploded.
    "text_bpe_vocab" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.bpeVocab(docs(s, dir), rounds = bpeRounds),
      Some(bpeOracleSql(bpeRounds,
        s"SELECT tok AS token, CAST(sum(freq) AS BIGINT) AS occurrences FROM t$bpeRounds GROUP BY tok"))
    )),

    // Applying the trained tokenizer at CORPUS scale: per-doc BPE token
    // counts (the number a data-mixing/packing pipeline budgets by). The
    // trained per-word tokenization is vocabulary-sized and BROADCASTS;
    // the corpus side is one scan + a per-doc sum — so tokenizing 100 TB
    // is a broadcast hash join at scan speed, never a per-row merge loop.
    // Completes the family: pairs (statistic) → train (merge table) →
    // vocab (tokens) → encode (application).
    "text_bpe_encode" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.bpeEncode(docs(s, dir), rounds = bpeRounds),
      Some(bpeOracleSql(bpeRounds,
        s""",wt AS (SELECT wd, CAST(count(*) AS BIGINT) AS wtoks FROM t$bpeRounds GROUP BY wd),
           |dw AS (SELECT doc_id, wd FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents)
           |  WHERE length(wd) >= 1)
           |SELECT doc_id, CAST(sum(wtoks) AS BIGINT) AS bpe_tokens,
           |  CAST(count(*) AS BIGINT) AS words
           |FROM dw JOIN wt USING (wd) GROUP BY doc_id""".stripMargin))
    )),

    // Tokenizer fertility by language: bytes per BPE token under the
    // corpus-trained tokenizer — the standard audit for multilingual
    // under-tokenization (a language whose fertility is far off the
    // corpus norm is being shredded into bytes and will train poorly).
    // Integer micro ratio; reuses the trained-merges encode chain.
    "text_bpe_fertility" -> ((
      (s: SparkSession, dir: String) =>
        TextAnalysis.bpeEncode(docs(s, dir), rounds = bpeRounds)
          .join(docs(s, dir).select(col("doc_id"), col("lang"),
            octet_length(col("text")).cast("long").as("bytes")), "doc_id")
          .groupBy("lang")
          .agg(sum("bpe_tokens").as("tokens"), sum("bytes").as("bytes"))
          .select(col("lang"), col("tokens").cast("long").as("tokens"),
            col("bytes").cast("long").as("bytes"),
            expr("bytes * 1000000 div tokens").as("bytes_per_token_x1e6")),
      Some(bpeOracleSql(bpeRounds,
        s""",wt AS (SELECT wd, CAST(count(*) AS BIGINT) AS wtoks FROM t$bpeRounds GROUP BY wd),
           |dw AS (SELECT doc_id, wd FROM (
           |    SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents)
           |  WHERE length(wd) >= 1),
           |pd AS (SELECT doc_id, CAST(sum(wtoks) AS BIGINT) AS toks
           |  FROM dw JOIN wt USING (wd) GROUP BY doc_id),
           |ld AS (SELECT doc_id, lang, CAST(strlen(text) AS BIGINT) AS bytes FROM documents)
           |SELECT lang, CAST(sum(toks) AS BIGINT) AS tokens,
           |  CAST(sum(bytes) AS BIGINT) AS bytes,
           |  CAST(sum(bytes) * 1000000 // sum(toks) AS BIGINT) AS bytes_per_token_x1e6
           |FROM pd JOIN ld USING (doc_id) GROUP BY lang""".stripMargin))
    )),

    // Skipgram co-occurrence counts (window ±2, distance-weighted 2/1,
    // direction-normalized) — the statistics a GloVe/word2vec-style
    // embedding pretrain consumes, and the corpus-level companion to
    // text_pmi_colloc's adjacency PMI. Pure integer weights, so the
    // aggregate is order-free; pair generation is two positional
    // transforms (no self-join on position), and the top-50 is
    // TakeOrderedAndProject per-partition heaps.
    "text_window_cooccur" -> ((
      (s: SparkSession, dir: String) => {
        val toks = docs(s, dir)
          .select(expr("filter(split(text, ' '), x -> length(x) > 0)").as("t"))
        val adj = toks.filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS x, t[i + 1] AS y, 2L AS w))")).as("p"))
        val skip = toks.filter(size(col("t")) >= 3)
          .select(explode(expr(
            "transform(sequence(0, size(t) - 3), i -> struct(t[i] AS x, t[i + 2] AS y, 1L AS w))")).as("p"))
        val w = Window.orderBy(col("w").desc, col("a").asc, col("b").asc)
        adj.unionAll(skip)
          .select(least(col("p.x"), col("p.y")).as("a"),
            greatest(col("p.x"), col("p.y")).as("b"), col("p.w").as("pw"))
          .groupBy("a", "b").agg(sum("pw").as("w"))
          .orderBy(col("w").desc, col("a").asc, col("b").asc).limit(50)
          .withColumn("rnk", row_number().over(w).cast("long"))
      },
      Some("""WITH toks AS (SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        |             FROM documents),
        |p1 AS (SELECT t[i] AS x, t[i + 1] AS y, 2 AS w
        |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
        |p2 AS (SELECT t[i] AS x, t[i + 2] AS y, 1 AS w
        |  FROM (SELECT t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3)),
        |u AS (SELECT least(x, y) AS a, greatest(x, y) AS b, w
        |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
        |c AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM u GROUP BY 1, 2)
        |SELECT a, b, w,
        |  CAST(row_number() OVER (ORDER BY w DESC, a, b) AS BIGINT) AS rnk
        |FROM c QUALIFY rnk <= 50""".stripMargin)
    )),

    // The curation pipeline as ONE declarative plan — quality filter →
    // normalized exact dedup (min-id survivorship) → greedy 256-token
    // shard packing, ending in per-shard stats. Each stage is its own
    // oracle-checked entry (text_quality_filter, dedup_exact_normalized,
    // q_pack_greedy); this capstone proves they COMPOSE — Catalyst sees
    // one tree, so the quality predicate reaches the scan below the
    // dedup aggregate and the only sequential state is the per-source
    // packing iterator. The oracle replays all three stages in one
    // recursive-CTE query.
    "pipeline_curate_pack" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val q = TextAnalysis.qualityFilter(docs(s, dir),
          minTokens = 20, maxTokens = 5000, minUniqX1000 = 300)
        val surv = TextAnalysis.normalize(q)
          .groupBy("norm_text").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        q.join(surv, "doc_id")
          .select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("tokens"))
          .as[(String, Long, Long)]
          .groupByKey(_._1)
          .flatMapSortedGroups(col("doc_id")) { (src, it) =>
            var bin = 0L
            var binTok = 0L
            var first = true
            it.map { case (_, _, tk) =>
              if (first) { binTok = tk; first = false }
              else if (binTok + tk > 256L) { bin += 1; binTok = tk }
              else binTok += tk
              (src, bin, tk)
            }
          }
          .toDF("source", "bin", "tokens")
          .groupBy("source", "bin")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("tokens").cast("long").as("tok_sum"))
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, source, text,
        |    CASE WHEN length(text) = 0 THEN [] ELSE string_split(text, ' ') END AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, source, text, len(toks) AS ntok FROM t
        |  WHERE len(toks) >= 20 AND len(toks) <= 5000
        |    AND len(list_distinct(toks)) * 1000 >= 300 * len(toks)),
        |surv AS (SELECT min(doc_id) AS doc_id FROM q
        |  GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
        |d AS (SELECT q.source, q.doc_id, CAST(q.ntok AS BIGINT) AS tokens,
        |    row_number() OVER (PARTITION BY q.source ORDER BY q.doc_id) AS rn
        |  FROM q JOIN surv USING (doc_id)),
        |rec AS (
        |  SELECT source, rn, doc_id, tokens, CAST(0 AS BIGINT) AS bin,
        |         tokens AS bin_tok
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.source, d.rn, d.doc_id, d.tokens,
        |    CASE WHEN rec.bin_tok + d.tokens > 256 THEN rec.bin + 1
        |         ELSE rec.bin END,
        |    CASE WHEN rec.bin_tok + d.tokens > 256 THEN d.tokens
        |         ELSE rec.bin_tok + d.tokens END
        |  FROM rec JOIN d ON d.source = rec.source AND d.rn = rec.rn + 1)
        |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS tok_sum
        |FROM rec GROUP BY 1, 2""".stripMargin)
    )),

    // Training-mix diversity: Shannon entropy of each language's source
    // distribution — the number a data-mixing pass watches to keep one
    // crawl source from dominating a language bucket (compare
    // text_dsir_weights, which reweights; this measures). Per-(lang,
    // source) terms p·ln p are one identical double chain on two integer
    // counts, floored to micros, then integer-summed — order-free. Two
    // hash aggregates and a broadcast join; nothing scales with corpus
    // size except the first count.
    "q_mix_entropy" -> ((
      (s: SparkSession, dir: String) => {
        val c = docs(s, dir).groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
          .eagerPersisted
        val tot = c.groupBy("lang")
          .agg(sum("cnt").as("tot"), count(lit(1)).as("n_sources"))
        c.join(broadcast(tot), "lang")
          .select(col("lang"), col("tot"), col("n_sources"),
            floor(lit(1e6) * (col("cnt").cast("double") / col("tot"))
              * log(col("cnt").cast("double") / col("tot"))).cast("long").as("term"))
          .groupBy("lang")
          .agg(max("tot").cast("long").as("n_docs"),
            max("n_sources").cast("long").as("n_sources"),
            (-sum("term")).cast("long").as("entropy_micro"))
      },
      Some("""WITH c AS (SELECT lang, source, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(cnt) AS tot, count(*) AS n_sources FROM c GROUP BY 1),
        |terms AS (SELECT c.lang, tot, n_sources,
        |    CAST(floor(1e6 * (CAST(cnt AS DOUBLE) / tot)
        |      * ln(CAST(cnt AS DOUBLE) / tot)) AS BIGINT) AS term
        |  FROM c JOIN tot USING (lang))
        |SELECT lang, CAST(max(tot) AS BIGINT) AS n_docs,
        |  CAST(max(n_sources) AS BIGINT) AS n_sources,
        |  CAST(-sum(term) AS BIGINT) AS entropy_micro
        |FROM terms GROUP BY 1""".stripMargin)
    )),

    // Davies–Bouldin clustering quality over the label partition — the
    // separation health check that needs NO pair-of-points stage: per-
    // (label, dim) exact integer sums in the int8-quantized domain give
    // both the centroid (as a rational s/n) and the within-cluster
    // scatter (Σq²/n − (Σq/n)² summed over dims), so the only join is the
    // k×k centroid pair relation (k = |label| ≤ 10s, SF-invariant). The
    // sqrt in the DB ratio is IEEE-correctly-rounded in both engines —
    // unlike pow/log there is no libm drift to round away. Contrast
    // vector_alignment_gap, which measures the same health on a bounded
    // SAMPLE with all pairs; this is the full-corpus aggregate-only form.
    "vector_davies_bouldin" -> ((
      (s: SparkSession, dir: String) => {
        val q = emb(s, dir).select(col("label"),
          graft.functions.Vectors.quantizeInt8(col("embedding")).as("q"))
        val byDim = q.select(col("label"), posexplode(col("q")).as(Seq("idx", "qv")))
          .groupBy("label", "idx")
          .agg(count(lit(1)).as("n"), sum("qv").as("sv"),
            sum(col("qv") * col("qv")).as("svv"))
        val scat = byDim.groupBy("label")
          .agg(max("n").as("n_g"),
            sum(col("svv").cast("double") / col("n")
              - (col("sv").cast("double") / col("n"))
                * (col("sv").cast("double") / col("n"))).as("s2"))
        val ca = byDim.select(col("label").as("la"), col("idx"),
          (col("sv").cast("double") / col("n")).as("cva"))
        val cb = byDim.select(col("label").as("lb"), col("idx"),
          (col("sv").cast("double") / col("n")).as("cvb"))
        val d2 = ca.join(cb, Seq("idx")).filter(col("la") =!= col("lb"))
          .groupBy("la", "lb")
          .agg(sum((col("cva") - col("cvb")) * (col("cva") - col("cvb"))).as("d2"))
        val sa = scat.select(col("label").as("la"), col("s2").as("s2a"),
          col("n_g").as("n_g"))
        val sb = scat.select(col("label").as("lb"), col("s2").as("s2b"))
        d2.join(sa, "la").join(sb, "lb")
          .groupBy(col("la").as("label"))
          .agg(max("n_g").as("n_g"),
            round(max(sqrt(col("s2a"))), 6).as("scatter"),
            round(max((sqrt(col("s2a")) + sqrt(col("s2b"))) / sqrt(col("d2"))), 6)
              .as("db_ratio"))
      },
      Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT label, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
        |u AS (SELECT label, CAST(i - 1 AS BIGINT) AS idx,
        |    CAST(CASE WHEN mx = mn THEN 0
        |      ELSE least(255, floor((v[i] - mn) * 255.0 / (mx - mn))) END AS BIGINT) AS qv
        |  FROM m, unnest(range(1, len(v) + 1)) AS t(i)),
        |bydim AS (SELECT label, idx, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv) AS BIGINT) AS sv, CAST(sum(qv * qv) AS BIGINT) AS svv
        |  FROM u GROUP BY 1, 2),
        |scat AS (SELECT label, max(n) AS n_g,
        |    sum(CAST(svv AS DOUBLE) / n
        |      - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)) AS s2
        |  FROM bydim GROUP BY 1),
        |d2 AS (SELECT a.label AS la, b.label AS lb,
        |    sum((CAST(a.sv AS DOUBLE) / a.n - CAST(b.sv AS DOUBLE) / b.n)
        |      * (CAST(a.sv AS DOUBLE) / a.n - CAST(b.sv AS DOUBLE) / b.n)) AS d2
        |  FROM bydim a JOIN bydim b ON a.idx = b.idx AND a.label != b.label
        |  GROUP BY 1, 2)
        |SELECT d2.la AS label, CAST(max(sa.n_g) AS BIGINT) AS n_g,
        |  round(max(sqrt(sa.s2)), 6) AS scatter,
        |  round(max((sqrt(sa.s2) + sqrt(sb.s2)) / sqrt(d2.d2)), 6) AS db_ratio
        |FROM d2 JOIN scat sa ON sa.label = d2.la JOIN scat sb ON sb.label = d2.lb
        |GROUP BY 1""".stripMargin)
    )),

    // Heaps'-law vocabulary growth fit — V(n) ≈ K·n^β tells a crawl
    // planner how much NEW vocabulary (entities, code identifiers,
    // misspellings) the next 10× of corpus will bring. The curve is
    // sampled at power-of-two checkpoints WITHOUT any global window or
    // sort: a token's first-occurrence doc and every doc's token count
    // bucket by length(bin(doc_id+1)) — an integer log2 — so the shuffle
    // reduces corpus → ≤41 bucket rows, and the cumulative checkpoint
    // curve plus the log-log OLS fit run on that bounded grid. β and
    // ln K are identical double chains over exact counts in both engines.
    "text_heaps_fit" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"),
          split(col("text"), " ").as("toks"))
        val perDoc = d.select(length(bin(col("doc_id") + 1)).as("b"),
            size(col("toks")).as("nt"))
          .groupBy("b").agg(sum(col("nt").cast("long")).as("tok_new"))
        val firstDoc = d.select(col("doc_id"), explode(col("toks")).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("d0"))
          .select(length(bin(col("d0") + 1)).as("b"))
          .groupBy("b").agg(count(lit(1)).as("voc_new"))
        val grid = perDoc.join(firstDoc, Seq("b"), "full_outer")
          .select(col("b"), coalesce(col("tok_new"), lit(0L)).as("tok_new"),
            coalesce(col("voc_new"), lit(0L)).as("voc_new"))
        val gi = grid.select(col("b"))
        val gj = grid.select(col("b").as("jb"), col("tok_new").as("jt"),
          col("voc_new").as("jv"))
        val curve = gi.join(gj, col("jb") <= col("b"))
          .groupBy("b")
          .agg(sum("jt").as("tokens_c"), sum("jv").as("vocab_c"))
          .filter(col("tokens_c") > 0 && col("vocab_c") > 0)
          .select(col("b"), col("tokens_c"), col("vocab_c"),
            log(col("tokens_c").cast("double")).as("lx"),
            log(col("vocab_c").cast("double")).as("ly"))
          .eagerPersisted
        val fit = curve
          .agg(count(lit(1)).as("np"), avg("lx").as("mx"), avg("ly").as("my"),
            sum(col("lx") * col("ly")).as("sxy"), sum(col("lx") * col("lx")).as("sxx"))
          .select(col("np"),
            ((col("sxy") - col("np") * col("mx") * col("my"))
              / (col("sxx") - col("np") * col("mx") * col("mx"))).as("beta"))
          .select(col("np"), round(col("beta"), 6).as("beta"))
        curve.crossJoin(fit)
          .select(col("b"), col("tokens_c"), col("vocab_c"), col("np"), col("beta"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |perdoc AS (SELECT length(bin(doc_id + 1)) AS b,
        |    CAST(sum(len(toks)) AS BIGINT) AS tok_new
        |  FROM d GROUP BY 1),
        |firstdoc AS (SELECT length(bin(d0 + 1)) AS b, CAST(count(*) AS BIGINT) AS voc_new
        |  FROM (SELECT min(doc_id) AS d0 FROM d, unnest(toks) AS t(tok) GROUP BY tok)
        |  GROUP BY 1),
        |grid AS (SELECT coalesce(p.b, f.b) AS b,
        |    coalesce(tok_new, 0) AS tok_new, coalesce(voc_new, 0) AS voc_new
        |  FROM perdoc p FULL OUTER JOIN firstdoc f ON p.b = f.b),
        |curve AS (SELECT i.b,
        |    CAST(sum(j.tok_new) AS BIGINT) AS tokens_c,
        |    CAST(sum(j.voc_new) AS BIGINT) AS vocab_c
        |  FROM grid i JOIN grid j ON j.b <= i.b GROUP BY 1),
        |lcurve AS (SELECT b, tokens_c, vocab_c,
        |    ln(CAST(tokens_c AS DOUBLE)) AS lx, ln(CAST(vocab_c AS DOUBLE)) AS ly
        |  FROM curve WHERE tokens_c > 0 AND vocab_c > 0),
        |fit AS (SELECT CAST(count(*) AS BIGINT) AS np,
        |    round((sum(lx * ly) - count(*) * avg(lx) * avg(ly))
        |      / (sum(lx * lx) - count(*) * avg(lx) * avg(lx)), 6) AS beta
        |  FROM lcurve)
        |SELECT b, tokens_c, vocab_c, np, beta FROM lcurve, fit""".stripMargin)
    )),

    // Flesch-style readability per source — the curation signal that
    // separates encyclopedic prose from listicles and code dumps using
    // three integer counts per document (words from spaces, sentences
    // from terminal punctuation, syllables from vowel runs — the
    // standard hyphenation-free heuristic). The per-doc score is floored
    // to millis (bit-identical double chain over three exact ints), then
    // integer-summed per source: one scan, one small aggregate, no UDFs —
    // the whole thing stays inside whole-stage codegen.
    "text_readability" -> ((
      (s: SparkSession, dir: String) => {
        val w = (length(col("text"))
          - length(regexp_replace(col("text"), " ", "")) + 1).cast("double")
        val sent = greatest(regexp_count(col("text"), lit("[.!?]")), lit(1))
          .cast("double")
        val syl = greatest(regexp_count(col("text"), lit("[aeiouyAEIOUY]+")), lit(1))
          .cast("double")
        docs(s, dir)
          .select(col("source"),
            floor((lit(206.835) - lit(1.015) * (w / sent)
              - lit(84.6) * (syl / w)) * 1000).cast("long").as("score_milli"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("score_milli").as("sum_milli"))
          .select(col("source"), col("n_docs"), col("sum_milli"),
            floor(col("sum_milli").cast("double") / col("n_docs")).cast("long")
              .as("avg_milli"))
      },
      Some("""WITH sc AS (SELECT source,
        |    CAST(floor((206.835
        |      - 1.015 * (CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
        |        / greatest(len(regexp_extract_all(text, '[.!?]')), 1))
        |      - 84.6 * (CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1)
        |          AS DOUBLE)
        |        / (length(text) - length(replace(text, ' ', '')) + 1))) * 1000)
        |      AS BIGINT) AS score_milli
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(score_milli) AS BIGINT) AS sum_milli,
        |  CAST(floor(CAST(sum(score_milli) AS DOUBLE) / count(*)) AS BIGINT) AS avg_milli
        |FROM sc GROUP BY 1""".stripMargin)
    )),

    // Katz centrality over the near-dup graph — attenuated path counting
    // (x ← β + αAx, α = 1/8, three unrolled rounds): unlike PageRank's
    // degree-normalized mass, Katz scores raw REACH, so the template
    // family whose members all transitively resemble each other lights
    // up as a block even when no single member is a hub. Exact integer
    // fixed point (long adds + one non-negative div per round) — both
    // engines replay the rounds bit-for-bit; see Graph.katz for the
    // α < 1/λ_max convergence contract at production degrees.
    "graph_katz" -> ((
      (s: SparkSession, dir: String) =>
        Graph.katz(QueryUtil.nearDupEdges(docs(s, dir)), iters = 3),
      Some {
        val rounds = (1 to 3).map { t =>
          s"""c$t AS (SELECT dst AS v, CAST(sum(x) AS BIGINT) AS c
             |  FROM e JOIN x${t - 1} ON x${t - 1}.v = e.src GROUP BY 1),
             |x$t AS MATERIALIZED (SELECT nodes.v,
             |    CAST(10000 + coalesce(c, 0) // 8 AS BIGINT) AS x
             |  FROM nodes LEFT JOIN c$t ON c$t.v = nodes.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${OracleSql.shinglePairs("prs")},
           |jp AS MATERIALIZED (SELECT doc_a, doc_b FROM prs p
           |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
           |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)),
           |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM jp
           |  UNION ALL SELECT doc_b, doc_a FROM jp),
           |nodes AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
           |x0 AS (SELECT v, CAST(10000 AS BIGINT) AS x FROM nodes),
           |$rounds
           |SELECT v AS doc_id, x AS katz FROM x3""".stripMargin
      }
    )),

    // Effective sample size of uniform-source rebalancing per language —
    // the number that tells a mixing pass what reweighting actually
    // COSTS: upweighting rare sources to a uniform target mix makes some
    // documents count many times, and ESS = (Σw)²/Σw² is the honest
    // "how much data do I effectively have left" readout (ess_ppm = 1e6
    // means the mix was already uniform). Weights are RATIONALS over
    // exact counts (w_s = N/(k·n_s) — never an exp() of a log-weight,
    // whose libm drift would flip a floor), per-(lang,source) terms are
    // identical double chains floored to micros, and the final ratio is
    // one double expression. Three hash aggregates, nothing else.
    "q_mix_ess" -> ((
      (s: SparkSession, dir: String) => {
        val c = docs(s, dir).groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
          .eagerPersisted
        val src = c.groupBy("source").agg(sum("cnt").as("ns"))
        val g = src.agg(sum("ns").as("nn"), count(lit(1)).as("k"))
        val r = col("nn").cast("double") / (col("k") * col("ns"))
        c.join(broadcast(src), "source").crossJoin(broadcast(g))
          .select(col("lang"), col("cnt"),
            floor(lit(1e6) * col("cnt") * r).cast("long").as("t1"),
            floor(lit(1e6) * col("cnt") * r * r).cast("long").as("t2"))
          .groupBy("lang")
          .agg(sum("cnt").as("n_docs"), sum("t1").as("s1"), sum("t2").as("s2"))
          .select(col("lang"), col("n_docs"),
            floor((col("s1").cast("double") / 1e6) * (col("s1").cast("double") / 1e6)
              / (col("s2").cast("double") / 1e6) / col("n_docs") * 1e6)
              .cast("long").as("ess_ppm"))
      },
      Some("""WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |src AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ns FROM c GROUP BY 1),
        |g AS (SELECT CAST(sum(ns) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS k
        |  FROM src),
        |terms AS (SELECT lang, cnt,
        |    CAST(floor(1e6 * cnt * (CAST(nn AS DOUBLE) / (k * ns))) AS BIGINT) AS t1,
        |    CAST(floor(1e6 * cnt * (CAST(nn AS DOUBLE) / (k * ns))
        |      * (CAST(nn AS DOUBLE) / (k * ns))) AS BIGINT) AS t2
        |  FROM c JOIN src USING (source), g),
        |agg AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_docs,
        |    CAST(sum(t1) AS BIGINT) AS s1, CAST(sum(t2) AS BIGINT) AS s2
        |  FROM terms GROUP BY 1)
        |SELECT lang, n_docs,
        |  CAST(floor((CAST(s1 AS DOUBLE) / 1e6) * (CAST(s1 AS DOUBLE) / 1e6)
        |    / (CAST(s2 AS DOUBLE) / 1e6) / n_docs * 1e6) AS BIGINT) AS ess_ppm
        |FROM agg""".stripMargin)
    )),

    // Walsh–Hadamard rotation with a machine-checked Parseval audit —
    // the structured rotation (SRHT's H) that spreads a vector's energy
    // evenly across dimensions before quantization/LSH, computed EXACTLY:
    // H[i][j] = (−1)^popcount(i&j) over the int8-quantized values, so the
    // rotated coordinates are integers and Parseval (Σy² = dims·Σq²) is
    // an exact integer identity BOTH engines verify independently — the
    // output carries the equality, so the gate fails if either engine's
    // rotation is wrong anywhere. Bounded audit sample (vec_id < 32) —
    // at 100 TB the rotation is a map-side per-vector transform; the
    // dims² expansion here exists only to make it SQL-replayable.
    "vector_hadamard_parseval" -> ((
      (s: SparkSession, dir: String) => {
        val q = emb(s, dir).filter(col("vec_id") < 32)
          .select(col("vec_id"),
            graft.functions.Vectors.quantizeInt8(col("embedding")).as("q"))
          .select(col("vec_id"), posexplode(col("q")).as(Seq("j", "qv")))
          .eagerPersisted
        val dims = q.groupBy("vec_id").agg(count(lit(1)).as("dims"))
        // the i-axis comes from each vector's own dims (the H matrix is
        // square), so the audit follows the fixture's dimension
        val vi = dims.select(col("vec_id"),
          explode(sequence(lit(0L), col("dims") - 1)).as("i"))
        val y = vi.join(q, "vec_id")
          .select(col("vec_id"), col("i"),
            (col("qv") * (lit(1L) - lit(2L)
              * pmod(bit_count(col("i").bitwiseAND(col("j"))).cast("long"), lit(2L))))
              .as("term"))
          .groupBy("vec_id", "i").agg(sum("term").as("yv"))
        val sums = q.groupBy("vec_id").agg(sum(col("qv") * col("qv")).as("sum_q2"))
        y.groupBy("vec_id").agg(sum(col("yv") * col("yv")).as("sum_y2"))
          .join(sums, "vec_id").join(dims, "vec_id")
          .select(col("vec_id"), col("dims"), col("sum_q2"), col("sum_y2"),
            (col("sum_y2") === col("dims") * col("sum_q2")).as("parseval_ok"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 32),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
        |q AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS j,
        |    CAST(CASE WHEN mx = mn THEN 0
        |      ELSE least(255, floor((v[i] - mn) * 255.0 / (mx - mn))) END AS BIGINT) AS qv
        |  FROM m, unnest(range(1, len(v) + 1)) AS t(i)),
        |dims AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS dims FROM q GROUP BY 1),
        |vi AS (SELECT vec_id, unnest(range(0, dims)) AS i FROM dims),
        |y AS (SELECT q.vec_id, vi.i,
        |    CAST(sum(qv * (1 - 2 * (bit_count(vi.i & q.j) % 2))) AS BIGINT) AS yv
        |  FROM vi JOIN q ON q.vec_id = vi.vec_id GROUP BY 1, 2),
        |s2 AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS sum_q2 FROM q GROUP BY 1),
        |y2 AS (SELECT vec_id, CAST(sum(yv * yv) AS BIGINT) AS sum_y2 FROM y GROUP BY 1)
        |SELECT y2.vec_id, dims, sum_q2, sum_y2,
        |  sum_y2 = dims * sum_q2 AS parseval_ok
        |FROM y2 JOIN s2 ON s2.vec_id = y2.vec_id JOIN dims ON dims.vec_id = y2.vec_id""".stripMargin)
    )),

    // Rich-club coefficient of the near-dup graph at degree thresholds
    // 1/2/4/8 — do the heavily-duplicated documents ALSO duplicate each
    // other (boilerplate ecosystems: φ → 1), or are they independent
    // hubs (spam bursts: φ low)? Pure integer counting: per-threshold
    // membership is a degree comparison, E_k a filtered count over the
    // pair relation joined to two vertex-degree aggregates (the
    // graph_modularity degree-identity shape), the 4× threshold
    // expansion map-side into a partial-combining count.
    "graph_rich_club" -> ((
      (s: SparkSession, dir: String) => {
        // localCheckpoint, not persist: the edge list's shingle-join
        // lineage is embedded five times downstream (deg twice via the
        // union, eRich once, deg re-joined twice) — the composed plan
        // string passed the 262 KB print ceiling. Cost matches the
        // persist it replaces.
        val pairs = QueryUtil.nearDupEdges(docs(s, dir))
          .localCheckpoint(true)
        val deg = pairs.select(col("doc_a").as("v"))
          .unionAll(pairs.select(col("doc_b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
          .eagerPersisted
        val ks = s.range(0, 4)
          .select(expr("CAST(shiftleft(1, CAST(id AS INT)) AS LONG)").as("k_deg"))
        val nRich = deg.crossJoin(broadcast(ks)).filter(col("dg") > col("k_deg"))
          .groupBy("k_deg").agg(count(lit(1)).as("n_rich"))
        val eRich = pairs
          .join(deg.select(col("v").as("doc_a"), col("dg").as("da")), "doc_a")
          .join(deg.select(col("v").as("doc_b"), col("dg").as("db")), "doc_b")
          .crossJoin(broadcast(ks))
          .filter(col("da") > col("k_deg") && col("db") > col("k_deg"))
          .groupBy("k_deg").agg(count(lit(1)).as("e_rich"))
        nRich.join(eRich, Seq("k_deg"), "left").na.fill(0L, Seq("e_rich"))
          .select(col("k_deg"), col("n_rich"), col("e_rich"),
            when(col("n_rich") > 1,
              floor(lit(2e6) * col("e_rich")
                / (col("n_rich") * (col("n_rich") - 1))).cast("long"))
              .as("phi_ppm"))
      },
      Some(s"""WITH ${OracleSql.shinglePairs("prs")},
        |jp AS MATERIALIZED (SELECT doc_a, doc_b FROM prs p
        |  JOIN cnt ca ON ca.doc_id = p.doc_a JOIN cnt cb ON cb.doc_id = p.doc_b
        |  WHERE common * 100 >= 80 * (ca.n_sh + cb.n_sh - common)),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM (
        |  SELECT doc_a AS v FROM jp UNION ALL SELECT doc_b FROM jp) GROUP BY 1),
        |ks AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS k_deg),
        |nr AS (SELECT k_deg, CAST(count(*) AS BIGINT) AS n_rich
        |  FROM deg, ks WHERE dg > k_deg GROUP BY 1),
        |er AS (SELECT k_deg, CAST(count(*) AS BIGINT) AS e_rich
        |  FROM jp JOIN deg a ON a.v = jp.doc_a JOIN deg b ON b.v = jp.doc_b, ks
        |  WHERE a.dg > k_deg AND b.dg > k_deg GROUP BY 1)
        |SELECT nr.k_deg, n_rich, coalesce(e_rich, 0) AS e_rich,
        |  CASE WHEN n_rich > 1 THEN CAST(floor(2e6 * coalesce(e_rich, 0)
        |    / (n_rich * (n_rich - 1))) AS BIGINT) END AS phi_ppm
        |FROM nr LEFT JOIN er ON er.k_deg = nr.k_deg""".stripMargin)
    )),

    // MATTR (moving-average type-token ratio, Covington & McFall) — the
    // lexical-diversity score that, unlike raw TTR, does not collapse
    // with document length (TTR of a long doc tends to 0 no matter how
    // varied the prose): the mean TTR over sliding 50-token windows.
    // Non-overlapping windows here (the streaming-friendly variant — an
    // overlapping window would be quadratic in tokens); per-window TTR
    // is exactly types·20 per-mille (integer), and the doc mean is an
    // integer floor-division — no float anywhere. Scale: one token
    // explode, windows keyed (doc, ti div 50), the position index is a
    // per-DOC window (bounded by doc length, never global).
    "text_mattr" -> ((
      (s: SparkSession, dir: String) => {
        val tk = docs(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pi", "tok")))
          .filter(length(col("tok")) > 0)
          .withColumn("ti",
            row_number().over(Window.partitionBy("doc_id").orderBy("pi")) - 1)
          .select(col("doc_id"), expr("CAST(ti div 50 AS BIGINT)").as("w"), col("tok"))
        tk.groupBy("doc_id", "w")
          .agg(count(lit(1)).as("n"), countDistinct("tok").as("types"))
          .filter(col("n") === 50)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            expr("CAST(sum(types * 20) div count(1) AS BIGINT)").as("mattr_pm"))
      },
      Some("""WITH tk AS (SELECT doc_id, sp[i] AS tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS ti
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |    unnest(range(1, len(sp) + 1)) AS t(i)
        |  WHERE length(sp[i]) > 0),
        |w AS (SELECT doc_id, ti // 50 AS w, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT tok) AS BIGINT) AS types
        |  FROM tk GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(types * 20) // count(*) AS BIGINT) AS mattr_pm
        |FROM w WHERE n = 50 GROUP BY 1""".stripMargin)
    )),

    // RAKE keyword extraction (Rose et al.) — corpus top-10 keyphrases:
    // candidate phrases are maximal runs of non-stopword tokens
    // (normalized to [a-z0-9]); each word scores deg/freq where freq
    // counts its phrase occurrences and deg additionally credits the
    // length of every phrase it appears in (so words living in long
    // collocations outrank bare frequent words); a phrase scores the sum
    // of its member word scores. Word scores are exact integer
    // floor-millis (deg·1000 div freq), so phrase scores and the top-10
    // cut replay bit-for-bit. Scale: token explode → per-doc run
    // detection (per-DOC window over positions) → two hash aggregates on
    // word/phrase keys with map-side combine → TakeOrdered(10). Nothing
    // global except the final 10-row take.
    "text_rake_keywords" -> ((
      (s: SparkSession, dir: String) => {
        val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
        val ns = docs(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pi", "tok")))
          .select(col("doc_id"), col("pi").cast("long").as("ti"),
            regexp_replace(lower(col("tok")), "[^a-z0-9]", "").as("nt"))
          .filter(length(col("nt")) > 0 && !col("nt").isin(stop: _*))
        val g = ns.withColumn("grp",
            col("ti") - row_number().over(Window.partitionBy("doc_id").orderBy("ti")))
          .eagerPersisted
        val ph = g.groupBy("doc_id", "grp")
          .agg(array_join(transform(
              array_sort(collect_list(struct(col("ti"), col("nt")))),
              x => x.getField("nt")), " ").as("phrase"),
            count(lit(1)).as("plen"))
          .eagerPersisted
        val ws = g.join(ph, Seq("doc_id", "grp"))
          .groupBy("nt").agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
          .select(col("nt"), expr("deg * 1000L div freq").as("wscore_milli"))
        val sc = g.join(ph, Seq("doc_id", "grp")).join(ws, Seq("nt"))
          .groupBy(col("doc_id"), col("grp"), col("phrase"))
          .agg(sum("wscore_milli").as("score_milli"))
        sc.groupBy("phrase")
          .agg(count(lit(1)).as("n_occ"), max("score_milli").as("score_milli"))
          .orderBy(col("score_milli").desc, col("phrase").asc)
          .limit(10)
      },
      Some("""WITH tk AS (SELECT doc_id, CAST(i AS BIGINT) AS ti,
        |    regexp_replace(lower(sp[i]), '[^a-z0-9]', '', 'g') AS nt
        |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |    unnest(range(1, len(sp) + 1)) AS t(i)),
        |ns AS (SELECT doc_id, ti, nt FROM tk WHERE length(nt) > 0
        |  AND nt NOT IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it')),
        |g AS (SELECT doc_id, ti, nt,
        |    ti - row_number() OVER (PARTITION BY doc_id ORDER BY ti) AS grp
        |  FROM ns),
        |ph AS (SELECT doc_id, grp, string_agg(nt, ' ' ORDER BY ti) AS phrase,
        |    CAST(count(*) AS BIGINT) AS plen FROM g GROUP BY 1, 2),
        |ws AS (SELECT g.nt,
        |    CAST(sum(ph.plen) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
        |      AS wscore_milli
        |  FROM g JOIN ph USING (doc_id, grp) GROUP BY 1),
        |sc AS (SELECT ph.doc_id, ph.grp, ph.phrase,
        |    CAST(sum(ws.wscore_milli) AS BIGINT) AS score_milli
        |  FROM g JOIN ph USING (doc_id, grp) JOIN ws ON ws.nt = g.nt
        |  GROUP BY 1, 2, 3)
        |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
        |  CAST(max(score_milli) AS BIGINT) AS score_milli
        |FROM sc GROUP BY 1
        |ORDER BY score_milli DESC, phrase LIMIT 10""".stripMargin)
    )),

    // Linear-kernel MMD² between the even- and odd-label embedding
    // populations — the two-sample test a pipeline runs to decide
    // whether a new data slice is DISTRIBUTIONALLY different from the
    // training corpus (domain shift before any model sees it). For the
    // linear kernel MMD² collapses to ‖μ_a − μ_b‖², so the whole test is
    // two mean vectors: per-dimension integer-quantized sums (the
    // vector_centroids accumulators — exact on both engines), then 64
    // per-dimension squared differences floored to picos and
    // integer-summed (order-independent). Scale: one explode, one
    // (group, dim) hash aggregate — map-side partial, 128-row final.
    "vector_mmd_linear" -> ((
      (s: SparkSession, dir: String) => {
        val agg = emb(s, dir)
          .select((col("label") % 2).cast("long").as("g"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "x")))
          .select(col("g"), col("idx").cast("long").as("idx"),
            floor(col("x") * 10000).cast("long").as("q"))
          .groupBy("g", "idx").agg(sum("q").as("qs"), count(lit(1)).as("n"))
        val a = agg.filter(col("g") === 0)
          .select(col("idx"), col("qs").as("qa"), col("n").as("na"))
        val b = agg.filter(col("g") === 1)
          .select(col("idx"), col("qs").as("qb"), col("n").as("nb"))
        a.join(b, Seq("idx"))
          .select(col("na"), col("nb"),
            floor(lit(1e4) * pow(col("qa").cast("double") / col("na")
              - col("qb").cast("double") / col("nb"), 2.0)).cast("long").as("t"))
          .groupBy("na", "nb")
          .agg(sum("t").as("mmd2_pico"))
          .select(col("na"), col("nb"), col("mmd2_pico"))
      },
      Some("""WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS g,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT g, CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
        |  FROM e, unnest(range(1, len(q) + 1)) AS t(i)),
        |agg AS (SELECT g, idx, CAST(sum(qv) AS BIGINT) AS qs,
        |    CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1, 2),
        |j AS (SELECT a.idx, a.qs AS qa, a.n AS na, b.qs AS qb, b.n AS nb
        |  FROM agg a JOIN agg b ON a.idx = b.idx AND a.g = 0 AND b.g = 1)
        |SELECT na, nb,
        |  CAST(sum(CAST(floor(1e4 * pow(CAST(qa AS DOUBLE) / na
        |    - CAST(qb AS DOUBLE) / nb, 2.0)) AS BIGINT)) AS BIGINT) AS mmd2_pico
        |FROM j GROUP BY 1, 2""".stripMargin)
    )),

    // Linear CKA (Kornblith et al.) between two slices of the embedding
    // space (dims 0–7 as representation X, dims 8–15 as Y) — the
    // standard "do two representations encode the same structure?"
    // similarity, invariant to rotation and isotropic scale. Linear CKA
    // needs only the three centered cross-moment matrices ‖XᵀY‖²_F,
    // ‖XᵀX‖²_F, ‖XᵀY‖²_F — never an n×n Gram matrix — so the plan is
    // ONE self-join on vec_id exploded to (dim, dim) cells: n·d² map
    // work into a 256-row aggregate, the canonical one-pass covariance
    // shape that scales to any corpus. Products accumulate in exact
    // int128 decimal; each per-cell centered moment is one double
    // expression over exact integers, squared and floored, and the CKA
    // ratio is formed from the three pinned sums.
    "vector_cka_linear" -> ((
      (s: SparkSession, dir: String) => {
        val u = emb(s, dir)
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "x")))
          .filter(col("idx") < 16)
          .select(col("vec_id"), col("idx").cast("long").as("idx"),
            floor(col("x") * 10000).cast("long").as("q"))
          .eagerPersisted
        val nr = emb(s, dir).agg(count(lit(1)).as("nn"))
        val ds = u.groupBy("idx").agg(sum("q").as("sq"))
        val cr = u.as("a").join(u.as("b"), "vec_id")
          .groupBy(col("a.idx").as("i"), col("b.idx").as("j"))
          .agg(sum(col("a.q").cast("decimal(19,0)")
            * col("b.q").cast("decimal(19,0)")).as("spp"))
        val cells = cr
          .join(broadcast(ds.select(col("idx").as("i"), col("sq").as("si"))), Seq("i"))
          .join(broadcast(ds.select(col("idx").as("j"), col("sq").as("sj"))), Seq("j"))
          .crossJoin(broadcast(nr))
          .select(col("i"), col("j"),
            floor(pow(col("spp").cast("double") / col("nn")
              - col("si").cast("double") * col("sj") / (col("nn") * col("nn")), 2.0))
              .cast("long").as("c2"))
        cells.agg(
            sum(when(col("i") < 8 && col("j") < 8, col("c2")).otherwise(0L)).as("hxx"),
            sum(when(col("i") < 8 && col("j") >= 8, col("c2")).otherwise(0L)).as("hxy"),
            sum(when(col("i") >= 8 && col("j") >= 8, col("c2")).otherwise(0L)).as("hyy"))
          .select(col("hxx"), col("hxy"), col("hyy"),
            floor(lit(1e6) * col("hxy")
              / sqrt(col("hxx").cast("double") * col("hyy"))).cast("long").as("cka_ppm"))
      },
      Some("""WITH e AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
        |  FROM e, unnest(range(1, 17)) AS t(i)),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM embeddings),
        |ds AS (SELECT idx, CAST(sum(qv) AS BIGINT) AS sq FROM u GROUP BY 1),
        |cr AS (SELECT a.idx AS i, b.idx AS j,
        |    sum(CAST(a.qv AS DECIMAL(19,0)) * CAST(b.qv AS DECIMAL(19,0))) AS spp
        |  FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2),
        |cells AS (SELECT i, j,
        |    CAST(floor(pow(CAST(spp AS DOUBLE) / nn
        |      - CAST(si.sq AS DOUBLE) * sj.sq / (nn * nn), 2.0)) AS BIGINT) AS c2
        |  FROM cr JOIN ds si ON si.idx = cr.i JOIN ds sj ON sj.idx = cr.j
        |  CROSS JOIN nr),
        |h AS (SELECT
        |    CAST(sum(CASE WHEN i < 8 AND j < 8 THEN c2 ELSE 0 END) AS BIGINT) AS hxx,
        |    CAST(sum(CASE WHEN i < 8 AND j >= 8 THEN c2 ELSE 0 END) AS BIGINT) AS hxy,
        |    CAST(sum(CASE WHEN i >= 8 AND j >= 8 THEN c2 ELSE 0 END) AS BIGINT) AS hyy
        |  FROM cells)
        |SELECT hxx, hxy, hyy,
        |  CAST(floor(1e6 * hxy / sqrt(CAST(hxx AS DOUBLE) * hyy)) AS BIGINT) AS cka_ppm
        |FROM h""".stripMargin)
    )),

    // MRR@5 of the graph-ANN tier — the metric that matters when only
    // the FIRST result is read (agentic retrieval, dedup candidate
    // lookup): reciprocal rank of the TRUE nearest neighbor inside the
    // approximate top-5, zero if missed. Truth is the brute top-1 per
    // query (bounded 8-query probe set — the ann_recall_eval idiom);
    // both rankings replay in SQL, and the reciprocal ranks are exact
    // integer floor-micros (1e6 div pos), so the metric is oracle-exact.
    // The companion to ann_ndcg_eval (order quality) and ann_recall_eval
    // (set quality).
    "ann_mrr_eval" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 8).limit(8)
        val approx = Similarity.graphTopK(e, q, k = 5,
            nPivots = 32, nProbe = 4, graphK = 5)
          .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("pos"))
        val truth1 = Similarity.bruteForceTopK(e, q, k = 1)
          .select(col("query_id"), col("neighbor_id"))
        truth1.join(approx, Seq("query_id", "neighbor_id"), "left")
          .select(col("query_id"),
            coalesce(expr("1000000L div pos"), lit(0L)).as("rr_micro"))
      },
      Some(s"""WITH ${OracleSql.graphBeam("scored")},
        |approx AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS pos
        |  FROM rescored QUALIFY pos <= 5),
        |truth1 AS (
        |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rnk
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id WHERE q.vec_id < 8 QUALIFY rnk = 1)
        |SELECT t.query_id,
        |  CAST(coalesce(1000000 // a.pos, 0) AS BIGINT) AS rr_micro
        |FROM truth1 t LEFT JOIN approx a USING (query_id, neighbor_id)""".stripMargin)
    )),

    // Simplified silhouette (centroid form) per label — the clustering
    // quality readout next to vector_davies_bouldin: a(i) = distance to
    // the OWN label centroid, b(i) = distance to the nearest OTHER
    // centroid, s = (b−a)/max(a,b). The centroid form replaces the
    // quadratic all-pairs silhouette with n·k centroid distances — the
    // only silhouette a 100 TB corpus can afford — and the centroids ride
    // the exact vector_centroids integer accumulators, so distances are
    // identical doubles on both engines. Per-point scores floor to
    // micros; per-label means are integer floor-division.
    "vector_silhouette_simplified" -> ((
      (s: SparkSession, dir: String) => {
        val u = emb(s, dir)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "x")))
          .select(col("vec_id"), col("label"), col("idx").cast("long").as("idx"),
            floor(col("x") * 10000).cast("long").as("q"))
          .eagerPersisted
        val cen = u.groupBy(col("label").as("cl"), col("idx"))
          .agg((sum("q").cast("double") / count(lit(1))).as("cv"))
        val d2 = u.join(cen, Seq("idx"))
          .groupBy(col("vec_id"), col("label"), col("cl"))
          .agg(sum((col("q") - col("cv")) * (col("q") - col("cv"))).as("d2"))
        val ab = d2.groupBy("vec_id", "label").agg(
          max(when(col("cl") === col("label"), col("d2"))).as("a2"),
          min(when(col("cl") =!= col("label"), col("d2"))).as("b2"))
        ab.select(col("label"),
            floor(lit(1e6) * (sqrt(col("b2")) - sqrt(col("a2")))
              / greatest(sqrt(col("a2")), sqrt(col("b2")))).cast("long").as("s_micro"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            expr("CAST(sum(s_micro) div count(1) AS BIGINT)").as("mean_silhouette_micro"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
        |  FROM e, unnest(range(1, len(q) + 1)) AS t(i)),
        |cen AS (SELECT label AS cl, idx,
        |    CAST(sum(qv) AS DOUBLE) / count(*) AS cv FROM u GROUP BY 1, 2),
        |d2 AS (SELECT u.vec_id, u.label, cen.cl,
        |    sum((u.qv - cen.cv) * (u.qv - cen.cv)) AS d2
        |  FROM u JOIN cen USING (idx) GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |    max(CASE WHEN cl = label THEN d2 END) AS a2,
        |    min(CASE WHEN cl != label THEN d2 END) AS b2
        |  FROM d2 GROUP BY 1, 2),
        |sm AS (SELECT label,
        |    CAST(floor(1e6 * (sqrt(b2) - sqrt(a2))
        |      / greatest(sqrt(a2), sqrt(b2))) AS BIGINT) AS s_micro
        |  FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(s_micro) // count(*) AS BIGINT) AS mean_silhouette_micro
        |FROM sm GROUP BY 1""".stripMargin)
    )),

    // Triplet-margin audit of the embedding space — the metric-learning
    // health check a training pipeline runs before using embeddings for
    // retrieval: for each probe anchor, is the nearest SAME-label vector
    // closer (by cosine) than the nearest OTHER-label vector, with margin
    // 0.05? Anchors are the bounded 8-probe set (the ann_recall_eval
    // idiom — probe × corpus is linear); hardest positive/negative are
    // deterministic argmaxes (cosine desc, id asc); the margin pins to
    // floor-micros.
    "vector_triplet_margin" -> ((
      (s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        // raw float arrays: cosine_sim accumulates in double over float
        // inputs, and floats widen exactly to doubles, so the oracle's
        // list_cosine_similarity over CAST(... AS DOUBLE[]) is the
        // bit-identical computation
        val e = emb(s, dir)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding").as("v"))
        val q = e.filter(col("vec_id") < 8).limit(8)
          .select(col("vec_id").as("query_id"), col("label").as("ql"), col("v").as("qv"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("ql"), col("vec_id"), col("label"),
            call_function("cosine_sim", col("qv"), col("v")).as("cs"))
        val w = Window.partitionBy("query_id", "same")
          .orderBy(col("cs").desc, col("vec_id").asc)
        val best = scored
          .withColumn("same", (col("label") === col("ql")).cast("long"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        val pos = best.filter(col("same") === 1)
          .select(col("query_id"), col("vec_id").as("pos_id"), col("cs").as("cp"))
        val neg = best.filter(col("same") === 0)
          .select(col("query_id"), col("vec_id").as("neg_id"), col("cs").as("cn"))
        pos.join(neg, Seq("query_id"))
          .select(col("query_id"), col("pos_id"), col("neg_id"),
            floor(lit(1e6) * (col("cp") - col("cn"))).cast("long").as("margin_micro"),
            (floor(lit(1e6) * (col("cp") - col("cn"))) < 50000L).cast("long")
              .as("violated"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e
        |  WHERE vec_id < 8),
        |scored AS (SELECT q.query_id, q.ql, e.vec_id, e.label,
        |    list_cosine_similarity(q.qv, e.v) AS cs,
        |    CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS same
        |  FROM q JOIN e ON e.vec_id != q.query_id),
        |best AS (SELECT query_id, same, vec_id, cs,
        |    row_number() OVER (PARTITION BY query_id, same
        |      ORDER BY cs DESC, vec_id) AS rn
        |  FROM scored QUALIFY rn = 1),
        |pos AS (SELECT query_id, vec_id AS pos_id, cs AS cp FROM best WHERE same = 1),
        |neg AS (SELECT query_id, vec_id AS neg_id, cs AS cn FROM best WHERE same = 0)
        |SELECT pos.query_id, pos_id, neg_id,
        |  CAST(floor(1e6 * (cp - cn)) AS BIGINT) AS margin_micro,
        |  CAST(CASE WHEN floor(1e6 * (cp - cn)) < 50000 THEN 1 ELSE 0 END AS BIGINT)
        |    AS violated
        |FROM pos JOIN neg USING (query_id)""".stripMargin)
    )),

    // Bhattacharyya distance between the even- and odd-label embedding
    // populations under per-dimension Gaussian approximation — the
    // distributional-shift companion to vector_mmd_linear that also sees
    // VARIANCE differences (MMD with a linear kernel is mean-only):
    // D_B = Σ_d [ (μa−μb)²/(8σ̄²) + ½·ln(σ̄²/(σa·σb)) ], σ̄² the average
    // variance. Moments ride exact integer-quantized sums (squares in
    // int128 decimal); per-dimension terms floor to micros and
    // integer-sum. One explode + one (group, dim) aggregate — the
    // vector_mmd_linear scale shape.
    "vector_bhattacharyya" -> ((
      (s: SparkSession, dir: String) => {
        val agg = emb(s, dir)
          .select((col("label") % 2).cast("long").as("g"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("idx", "x")))
          .select(col("g"), col("idx").cast("long").as("idx"),
            floor(col("x") * 10000).cast("long").as("q"))
          .groupBy("g", "idx")
          .agg(count(lit(1)).as("n"), sum("q").as("qs"),
            sum(col("q").cast("decimal(19,0)") * col("q").cast("decimal(19,0)")).as("qq"))
          .select(col("g"), col("idx"), col("n"),
            (col("qs").cast("double") / col("n")).as("mu"),
            greatest(col("qq").cast("double") / col("n")
              - (col("qs").cast("double") / col("n")) * (col("qs").cast("double") / col("n")),
              lit(1e-6)).as("v"))
        val a = agg.filter(col("g") === 0)
          .select(col("idx"), col("n").as("na"), col("mu").as("mua"), col("v").as("va"))
        val b = agg.filter(col("g") === 1)
          .select(col("idx"), col("n").as("nb"), col("mu").as("mub"), col("v").as("vb"))
        a.join(b, Seq("idx"))
          .select(col("na"), col("nb"),
            floor(lit(1e6) * (pow(col("mua") - col("mub"), 2.0)
              / (lit(4.0) * (col("va") + col("vb")))
              + lit(0.5) * log((col("va") + col("vb"))
                / (lit(2.0) * sqrt(col("va") * col("vb")))))).cast("long").as("t"))
          .groupBy("na", "nb")
          .agg(sum("t").as("bhattacharyya_micro"))
      },
      Some("""WITH e AS (SELECT CAST(label % 2 AS BIGINT) AS g,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 10000) AS BIGINT)) AS q
        |  FROM embeddings),
        |u AS (SELECT g, CAST(i - 1 AS BIGINT) AS idx, q[i] AS qv
        |  FROM e, unnest(range(1, len(q) + 1)) AS t(i)),
        |agg AS (SELECT g, idx, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv) AS BIGINT) AS qs,
        |    sum(CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0))) AS qq
        |  FROM u GROUP BY 1, 2),
        |m AS (SELECT g, idx, n, CAST(qs AS DOUBLE) / n AS mu,
        |    greatest(CAST(qq AS DOUBLE) / n
        |      - (CAST(qs AS DOUBLE) / n) * (CAST(qs AS DOUBLE) / n), 1e-6) AS v
        |  FROM agg),
        |j AS (SELECT a.idx, a.n AS na, a.mu AS mua, a.v AS va,
        |    b.n AS nb, b.mu AS mub, b.v AS vb
        |  FROM m a JOIN m b ON a.idx = b.idx AND a.g = 0 AND b.g = 1)
        |SELECT na, nb,
        |  CAST(sum(CAST(floor(1e6 * (pow(mua - mub, 2.0) / (4.0 * (va + vb))
        |    + 0.5 * ln((va + vb) / (2.0 * sqrt(va * vb))))) AS BIGINT)) AS BIGINT)
        |    AS bhattacharyya_micro
        |FROM j GROUP BY 1, 2""".stripMargin)
    )),

    // Hapax-legomena ratio per document — the corpus-health companion to
    // text_heaps_fit at document grain: the share of words used exactly
    // once is a strong signal of vocabulary richness (high for natural
    // prose, low for templated/boilerplate text, near-zero for log
    // spam). Pure integer arithmetic per doc — one explode, one
    // (doc, token) aggregate, one doc aggregate.
    "text_hapax_ratio" -> ((
      (s: SparkSession, dir: String) => {
        docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
          .select(col("doc_id"), col("n_tokens"), col("n_hapax"),
            expr("n_hapax * 1000L div n_tokens").as("hapax_pm"))
      },
      Some("""WITH tk AS (SELECT doc_id, tok FROM (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE length(tok) > 0),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tk GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000 // sum(c) AS BIGINT)
        |    AS hapax_pm
        |FROM c GROUP BY 1""".stripMargin)
    )),

    // TextRank keywords (Mihalcea & Tarau) — the graph-based sibling of
    // text_rake_keywords: words are nodes, adjacency in the filtered
    // token stream is a weighted co-occurrence edge, and three unrolled
    // weighted-PageRank rounds (damping 0.85, the graph_pagerank
    // discipline — per-round contributions divide by the WEIGHTED
    // degree) rank words by centrality rather than by the deg/freq
    // ratio. Top-10 by ROUNDED score (round-8 before the ordering, so
    // the cut never straddles an ulp), word tie-break. Scale: token
    // explode → per-doc adjacency (per-DOC window) → corpus edge
    // aggregate; each round is one hash join + aggregate on the
    // word-graph, map-side combined.
    "text_textrank_keywords" -> ((
      (s: SparkSession, dir: String) => {
        val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
        val ns = docs(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pi", "tok")))
          .select(col("doc_id"), col("pi").cast("long").as("ti"),
            regexp_replace(lower(col("tok")), "[^a-z0-9]", "").as("nt"))
          .filter(length(col("nt")) > 0 && !col("nt").isin(stop: _*))
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("ti")))
        val adj = ns.as("x").join(ns.as("y"),
            col("x.doc_id") === col("y.doc_id") && col("y.rn") === col("x.rn") + 1)
          .filter(col("x.nt") =!= col("y.nt"))
          .select(col("x.nt").as("a"), col("y.nt").as("b"))
        val edges = adj.select(col("a"), col("b"))
          .unionAll(adj.select(col("b").as("a"), col("a").as("b")))
          .groupBy("a", "b").agg(count(lit(1)).cast("double").as("wt"))
          .localCheckpoint(true) // referenced by every PR round (plan size)
        val nodes = edges.select(col("a").as("v")).distinct()
          .localCheckpoint(true)
        val wdeg = edges.groupBy("a").agg(sum("wt").as("dg"))
        var pr = nodes.select(col("v"), lit(1.0).as("pr"))
        for (_ <- 1 to 3) {
          val contrib = edges.join(wdeg, Seq("a"))
            .join(pr.select(col("v").as("a"), col("pr")), Seq("a"))
            .groupBy(col("b").as("v"))
            .agg(sum(col("wt") / col("dg") * col("pr")).as("w"))
          pr = nodes.join(contrib, Seq("v"), "left")
            .select(col("v"), (lit(0.15) + lit(0.85) * coalesce(col("w"), lit(0.0)))
              .as("pr"))
            .localCheckpoint(true)
        }
        pr.select(col("v").as("word"), round(col("pr"), 8).as("score"))
          .orderBy(col("score").desc, col("word").asc)
          .limit(10)
      },
      Some {
        val rounds = (1 to 3).map { t =>
          s"""c$t AS (SELECT e.b AS v, sum(e.wt / wdeg.dg * p${t - 1}.pr) AS w
             |  FROM e JOIN wdeg ON wdeg.a = e.a JOIN p${t - 1} ON p${t - 1}.v = e.a
             |  GROUP BY 1),
             |p$t AS MATERIALIZED (SELECT nodes.v,
             |    0.15 + 0.85 * coalesce(c$t.w, 0) AS pr
             |  FROM nodes LEFT JOIN c$t ON c$t.v = nodes.v)""".stripMargin
        }.mkString(",\n")
        s"""WITH tk AS (SELECT doc_id, CAST(i AS BIGINT) AS ti,
           |    regexp_replace(lower(sp[i]), '[^a-z0-9]', '', 'g') AS nt
           |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
           |    unnest(range(1, len(sp) + 1)) AS t(i)),
           |ns AS (SELECT doc_id, ti, nt,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY ti) AS rn
           |  FROM tk WHERE length(nt) > 0
           |  AND nt NOT IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it')),
           |adj AS (SELECT x.nt AS a, y.nt AS b
           |  FROM ns x JOIN ns y ON x.doc_id = y.doc_id AND y.rn = x.rn + 1
           |  WHERE x.nt != y.nt),
           |e AS MATERIALIZED (SELECT a, b, CAST(count(*) AS DOUBLE) AS wt
           |  FROM (SELECT a, b FROM adj UNION ALL SELECT b, a FROM adj)
           |  GROUP BY 1, 2),
           |nodes AS (SELECT DISTINCT a AS v FROM e),
           |wdeg AS (SELECT a, sum(wt) AS dg FROM e GROUP BY 1),
           |p0 AS (SELECT v, 1.0 AS pr FROM nodes),
           |$rounds
           |SELECT v AS word, round(pr, 8) AS score FROM p3
           |ORDER BY score DESC, word LIMIT 10""".stripMargin
      }
    ))
  )

  /** The shared team-draft pipeline behind the interleaving entries:
    * lexical (BM25 over the query doc's terms) and dense (exact cosine)
    * top-5 rankings merged by alternating drafts with a fixed coin
    * (lexical first each round). The six dependent picks are resolved
    * per-query inside one flatMapGroups over the ≤ 10-row candidate pool
    * (one shuffle, no driver-side step barrier).
    * Returns (query_id, doc_id, pos 1-6, team).
    */
  private def interleaveDraft(s: SparkSession, dir: String): DataFrame = {
    val lex = QueryUtil.bm25QueryScores(docs(s, dir), "lexs")
    val wl = Window.partitionBy("query_id").orderBy(col("lexs").desc, col("doc_id"))
    val rA = lex.withColumn("ra", row_number().over(wl)).filter(col("ra") <= 5)
      .select(col("query_id"), col("doc_id"), col("ra"))
    val e = emb(s, dir)
    val rB = Similarity.bruteForceTopK(
        e, e.filter(pmod(col("vec_id"), lit(100)) === 0 &&
          col("vec_id") < 102400), k = 5)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rb"))
    // The draft is six DEPENDENT argmin steps (each pick excludes all
    // earlier picks), but the whole candidate pool per query is ≤ 10 rows
    // (lex top-5 ∪ dense top-5) — so instead of six chained Spark jobs
    // (the previous shape: one left_anti + window + eager localCheckpoint
    // PER PICK, a driver-side barrier sequence), simulate the draft
    // per-query in a single flatMapGroups: ONE shuffle by query_id, the
    // six picks resolved inside the group. At 100 TB this is the
    // difference between one exchange and six full passes; the pick
    // order is identical (rank asc, doc_id asc, fixed lex-first coin).
    import s.implicits._
    rA.select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("ra").cast("int").as("rk"), lit(true).as("is_lex"))
      .unionAll(rB.select(col("query_id").cast("long"), col("doc_id").cast("long"),
        col("rb").cast("int").as("rk"), lit(false).as("is_lex")))
      .as[(Long, Long, Int, Boolean)]
      .groupByKey(_._1)
      .flatMapGroups((qid: Long, it: Iterator[(Long, Long, Int, Boolean)]) =>
        graft.operators.TeamDraft.draftPicks(qid, it))
      .toDF("query_id", "doc_id", "pos", "team")
  }

  /** DuckDB replay of the team-draft pipeline through the `pk6` CTE
    * (all six picks with positions and teams); `tail` is appended as the
    * final SELECT, or — with `extraCte` — as further CTEs ending in the
    * final SELECT. */
  private def teamDraftOracle(tail: String, extraCte: Boolean = false): String = {
    val steps = (1 to 6).map { k =>
      val (src, rk, team) = if (k % 2 == 1) ("la", "ra", "lex") else ("db", "rb", "dense")
      val excl = if (k == 1) ""
        else s"""WHERE NOT EXISTS (SELECT 1 FROM pk${k - 1} p
                |      WHERE p.query_id = $src.query_id AND p.doc_id = $src.doc_id)""".stripMargin
      val prev = if (k == 1) "" else s"SELECT * FROM pk${k - 1} UNION ALL "
      s"""s$k AS MATERIALIZED (SELECT query_id, doc_id, CAST($k AS BIGINT) AS pos,
         |  '$team' AS team FROM (
         |    SELECT $src.query_id, $src.doc_id, row_number() OVER (
         |      PARTITION BY $src.query_id ORDER BY $src.$rk, $src.doc_id) AS rn
         |    FROM $src $excl) WHERE rn = 1),
         |pk$k AS MATERIALIZED (${prev}SELECT query_id, doc_id, pos, team FROM s$k)""".stripMargin
    }.mkString(",\n")
    val base = s"""WITH ${OracleSql.bm25Lex("lexs")},
       |la AS MATERIALIZED (SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY lexs DESC, doc_id) AS ra
       |  FROM lex QUALIFY ra <= 5),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |db AS MATERIALIZED (SELECT q.vec_id AS query_id, n.vec_id AS doc_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id) AS rb
       |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id % 100 = 0 AND q.vec_id < 102400 QUALIFY rb <= 5),
       |$steps""".stripMargin
    base + (if (extraCte) ",\n" else "\n") + tail
  }

  /** DuckDB replay of the deflated top-2 power iteration through the
    * `v3` (first direction) and `z3` (second direction) CTEs; `tail` is
    * the final SELECT (or further CTEs + SELECT when it starts with a
    * CTE definition — callers pass `extraCte = true` then). */
  private def pca2Oracle(tail: String, extraCte: Boolean = false): String = {
    def norm(src: String, out: String) =
      s"""m_$out AS (SELECT greatest(max(abs(w)) // 10000, 1) AS m FROM $src),
         |$out AS MATERIALIZED (SELECT j, CAST(CASE WHEN w < 0 THEN -(abs(w) // m)
         |  ELSE abs(w) // m END AS BIGINT) AS v FROM $src, m_$out)""".stripMargin
    val v1rounds = (1 to 3).map { t =>
      s"""w$t AS (SELECT cov.i AS j, CAST(sum(cov.cv * v${t - 1}.v) AS BIGINT) AS w
         |  FROM cov JOIN v${t - 1} ON v${t - 1}.j = cov.j GROUP BY 1),
         |${norm(s"w$t", s"v$t")}""".stripMargin
    }.mkString(",\n")
    def deflate(src: String, r: Int) =
      s"""dot$r AS (SELECT CAST(sum($src.v * v3.v) AS BIGINT) AS dot
         |  FROM $src JOIN v3 ON v3.j = $src.j),
         |o$r AS (SELECT $src.j,
         |    $src.v - CASE WHEN dot * v3.v < 0 THEN -(abs(dot * v3.v) // uu)
         |      ELSE abs(dot * v3.v) // uu END AS w
         |  FROM $src JOIN v3 ON v3.j = $src.j, dot$r, uuv),
         |${norm(s"o$r", s"z$r")}""".stripMargin
    val v2rounds = (1 to 3).map { r =>
      s"""y$r AS (SELECT cov.i AS j, CAST(sum(cov.cv * z${r - 1}.v) AS BIGINT) AS w
         |  FROM cov JOIN z${r - 1} ON z${r - 1}.j = cov.j GROUP BY 1),
         |${norm(s"y$r", s"ny$r")},
         |${deflate(s"ny$r", r)}""".stripMargin
    }.mkString(",\n")
    val base = s"""WITH ${OracleSql.centeredDims},
       |cov AS MATERIALIZED (SELECT i, j, CAST(CASE WHEN s < 0 THEN -(abs(s) // nn)
       |          ELSE abs(s) // nn END AS BIGINT) AS cv
       |        FROM (SELECT a.idx AS i, b.idx AS j,
       |                CAST(sum(a.cv * b.cv) AS BIGINT) AS s
       |              FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
       |             (SELECT count(*) AS nn FROM embeddings)),
       |v0 AS (SELECT DISTINCT idx AS j, CAST(10000 AS BIGINT) AS v FROM u),
       |$v1rounds,
       |uuv AS (SELECT CAST(sum(v * v) AS BIGINT) AS uu FROM v3),
       |${deflate("v0", 0)},
       |$v2rounds""".stripMargin
    base + (if (extraCte) ",\n" else "\n") + tail
  }
}
