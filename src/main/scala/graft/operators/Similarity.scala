package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k (exact; O(Q·N) — fine when the query
  * set is small and broadcastable). Scale path: hyperplane-LSH bucketing
  * restricts candidates to matching buckets before scoring — the classic
  * IVF-ish trade of recall for a shuffle-bounded plan.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector, by cosine (desc), with
    * deterministic tiebreak on neighbor id. The query side is broadcast —
    * at 100 TB the corpus streams through one narrow scoring stage, and
    * only (query, k) rows survive into the per-query top-k window.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    scanScoredTopK(corpus, queries, k,
      (q, c) => call_function("cosine_sim", q, c))

  /** Exact MAX-INNER-PRODUCT top-k — the retrieval metric of
    * recommendation and reward models, where vector norms carry signal
    * and cosine's normalization would erase it. Same broadcast-queries /
    * stream-corpus / bounded-window shape as [[bruteForceTopK]]; the dot
    * folds left-to-right in double (the order DuckDB's
    * list_inner_product uses, so the oracle replays it exactly).
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    scanScoredTopK(corpus, queries, k, (q, c) =>
      aggregate(zip_with(q, c, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))

  /** MIPS reduced to COSINE search by the classic asymmetric
    * augmentation (Bachrach et al. 2014): append sqrt(M² − ‖c‖²) to every
    * corpus vector (M = max corpus norm) and 0 to every query — then
    * ‖c′‖ = M for all candidates, so cosine(q′, c′) = dot(q, c)/(‖q‖·M)
    * is strictly monotone in the inner product and ANY cosine-ANN
    * machinery (LSH, IVF, graph-beam) answers MIPS unchanged. ScaleSpec
    * asserts this route reproduces [[mipsTopK]]'s exact rankings.
    */
  def mipsViaAugmentation(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val norm2 = (v: Column) =>
      aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
    val m2 = corpus.agg(max(norm2(col("embedding"))).as("m2"))
    val aug = corpus.crossJoin(broadcast(m2))
      .select(col("vec_id"), concat(col("embedding").cast("array<double>"),
        array(sqrt(greatest(col("m2") - norm2(col("embedding")), lit(0.0))))).as("aug"))
    val qaug = queries
      .select(col("vec_id"), concat(col("embedding").cast("array<double>"),
        array(lit(0.0))).as("aug"))
    val cos = (q: Column, c: Column) =>
      aggregate(zip_with(q, c, (x, y) => x * y), lit(0.0), (acc, v) => acc + v) /
        (sqrt(norm2(q)) * sqrt(norm2(c)))
    val scored = aug.as("c")
      .join(broadcast(qaug.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cos(col("q.aug"), col("c.aug")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Shared scan-and-rank pipeline for the exhaustive ANN variants:
    * broadcast the query set, stream the corpus through one narrow
    * scoring stage, keep k rows per query with the bounded top-k window.
    * `score` receives the (query, corpus) embedding columns.
    */
  private def scanScoredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                             score: (Column, Column) => Column): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // spread the streamed corpus across cores before the |Q|×|C| scoring
    // pass (r16): one-row-group parquet defeats byte-splitting, so the
    // whole scoring loop otherwise runs on one task; the repartition is
    // corpus-linear against the multiplicative work it feeds
    val scored = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism).as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        score(col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Filtered exact top-k — the metadata-constrained vector search every
    * retrieval stack needs ("nearest neighbors WHERE license = permissive
    * AND lang = en"): `cond` is evaluated against the `q`/`c` aliases and
    * rides the scoring join itself, so ineligible corpus rows are pruned
    * BEFORE the distance computation (filter-then-score — the plan that
    * survives selective predicates; score-then-filter can return < k rows
    * AND wastes the scoring scan). Same broadcast-queries / stream-corpus
    * / bounded-window shape as [[bruteForceTopK]]; at 100 TB a static
    * predicate additionally pushes into the parquet scan (asserted for
    * the catalog entry by PlanAudit's pushdown checks).
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   cond: Column): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // same streamed-side spread as scanScoredTopK (one-row-group parquet)
    val scored = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism).as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id") && cond)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        call_function("cosine_sim", col("q.embedding"), col("c.embedding")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Matryoshka (MRL-style) truncated-dimension top-k: score on only the
    * first `dims` coordinates. For embeddings trained with
    * matryoshka-representation loss the information is front-loaded, so
    * truncation buys a `dims/full` factor on every byte moved, cached,
    * and multiplied in the scoring scan — the cheapest ANN speedup there
    * is because it's pure column algebra (a `slice`), no index build at
    * all. Cosine on the slices IS the renormalized truncated similarity
    * (cosine normalizes by the sliced norms). The catalog entry
    * (`vector_matryoshka`) measures what truncation costs: top-k overlap
    * vs the full-dimension ranking, per query.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, dims: Int, k: Int): DataFrame =
    scanScoredTopK(corpus, queries, k,
      (q, c) => call_function("cosine_sim", slice(q, 1, dims), slice(c, 1, dims)))

  /** IVF (inverted-file) top-k — the other classic ANN scale path: a
    * KMeans coarse quantizer partitions the corpus into `nCentroids`
    * cells; each query probes its `nProbe` nearest cells and scores
    * exact cosine only within them. Candidate volume is
    * ~`nProbe/nCentroids` of the corpus per query, tuned independently of
    * the similarity threshold (which is what limits hyperplane LSH at
    * moderate thresholds). The centroid table is driver-small and
    * broadcast; corpus assignment is one narrow ML transform; the probe
    * join is a broadcast hash join on cluster id.
    */
  /** Coarse KMeans quantizer fit on a bounded, deterministic sample —
    * standard IVF/SemDeDup practice: KMeans makes `maxIter` full passes
    * over its input, so fitting on the whole corpus would be ~10 corpus
    * scans at index-build time and the dominant cost at 100 TB. Centroid
    * quality saturates far below `fitMaxRows` points for coarse quantizers
    * (cells only gate candidate generation), and downstream correctness is
    * property-based, not centroid-exact.
    *
    * Cached because KMeans re-reads its input once per init round and once
    * per iteration; fit() is eager, so the sample is dropped immediately
    * after. Random init, not kmeans||: the parallel init makes several
    * extra passes + a driver collect to seed centroids well — worth it for
    * fine clustering, irrelevant for a coarse quantizer. 5 iterations:
    * each KMeans iteration is ~2 scheduler rounds of fixed cost that
    * dominate the query at small SF.
    */
  private[graft] def fitCoarseKMeans(
      featured: DataFrame, nCentroids: Int, seed: Long,
      fitFraction: Double, fitMaxRows: Int): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    val sampled = {
      val s = if (fitFraction >= 1.0) featured
        else featured.sample(withReplacement = false, fitFraction, seed)
      s.select("features").limit(fitMaxRows)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // floor: a Bernoulli sample of a small corpus can come back with fewer
    // rows than nCentroids (or empty), which makes KMeans.fit throw or emit
    // degenerate centroids — fall back to the unsampled corpus in that case
    // (cheap count: the sample is persisted and capped at fitMaxRows)
    val fitInput =
      if (sampled.count() >= nCentroids) sampled
      else {
        sampled.unpersist()
        featured.select("features").limit(fitMaxRows)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    try {
      new KMeans().setK(nCentroids).setSeed(seed).setMaxIter(5)
        .setInitMode("random")
        .setFeaturesCol("features").setPredictionCol("cluster")
        .fit(fitInput)
    } finally fitInput.unpersist()
  }

  /** Each query's `nProbe` nearest cells by exact euclidean distance to
    * the (driver-small, broadcast) centroid table — the probe set both IVF
    * variants share. Output: (query_id, q_emb, cluster).
    */
  private def ivfProbes(model: org.apache.spark.ml.clustering.KMeansModel,
                        queries: DataFrame, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("cluster", "centroid")
    val probeW = Window.partitionBy("query_id").orderBy(col("dist").asc, col("cluster").asc)
    queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("q_emb"), col("cluster"),
        Vectors.l2Distance(col("q_emb"), col("centroid")).as("dist"))
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("q_emb"), col("cluster"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              fitFraction: Double = 0.5, fitMaxRows: Int = 100000): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)

    val featured = corpus.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val model = fitCoarseKMeans(featured, nCentroids, seed, fitFraction, fitMaxRows)
    val assigned = model.transform(featured)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"), col("cluster"))

    val probes = ivfProbes(model, queries, nProbe)
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** LSH-bucketed top-k: queries and corpus are banded with the same
    * hyperplane bank (`bands` bands × `rowsPerBand` sign bits);
    * candidates = corpus rows sharing any band bucket with the query
    * (multi-probed, see [[lshCandidates]]); then exact cosine top-k within
    * candidates. Approximate: recall depends on rows/bands; the plan is a
    * bucket-equi-join instead of a cross product, and the per-query
    * candidate fraction shrinks as 2^-rowsPerBand per band — the r12
    * verdict's fix for the 4-bit banding whose candidates were ~half the
    * corpus per query.
    */
  /** Candidate pairs for [[lshTopK]] — exposed so callers can measure the
    * index's selectivity (candidates per query ≪ corpus is the reason an
    * LSH index exists; `ann_lsh_topk` materializes that as a verdict
    * column). Bucket rows are ids only — the corpus-side explode (×bands)
    * and the bucket join never carry the embedding payload (1-4 KB/vector
    * at production dims). The corpus side carries the hot-bucket cap
    * ([[graft.operators.Dedup.embeddingLshPairs]] discipline): a bucket
    * holding > `maxBucket` corpus ids is degenerate content or
    * too-coarse banding, and either way every query probing it would scan
    * it linearly; maxBucket <= 0 disables.
    */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, dim: Int,
                    rowsPerBand: Int = 8, bands: Int = 8,
                    multiProbe: Boolean = true, maxBucket: Int = 1000): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def banded(df: DataFrame, idAs: String) = df
      .select(col("vec_id").as(idAs),
        Vectors.hyperplaneBandBuckets(col("embedding"), dim, bands, rowsPerBand).as("bkts"))
      .select(col(idAs), posexplode(col("bkts")).as(Seq("band", "bucket")))
    val corpusBuckets = {
      val raw = banded(corpus, "neighbor_id")
      if (maxBucket <= 0) raw else {
        val hot = raw.groupBy("band", "bucket").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBucket).select("band", "bucket")
        raw.join(hot, Seq("band", "bucket"), "left_anti")
      }
    }
    // multi-probe: the QUERY side also probes each band bucket with one
    // sign bit flipped — the classic recall lever that costs query-side
    // rows (×(1+rows) here, broadcast anyway) instead of another full hash
    // table. A flipped bit is exactly "this embedding was near that
    // hyperplane", so the extra probes target the likeliest misses. The
    // corpus side is untouched: its explode stays ×bands.
    val queryBuckets = {
      val base = banded(queries, "query_id")
      if (!multiProbe) base
      else base.select(col("query_id"), col("band"),
        explode(array(col("bucket") +: (0 until rowsPerBand).map(r =>
          col("bucket").bitwiseXOR(lit(1L << r))): _*)).as("bucket"))
    }
    corpusBuckets.as("c")
      .join(broadcast(queryBuckets.as("q")),
        col("q.band") === col("c.band") && col("q.bucket") === col("c.bucket") &&
          col("q.query_id") =!= col("c.neighbor_id"))
      .select(col("q.query_id"), col("c.neighbor_id"))
      .distinct()
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
              rowsPerBand: Int = 8, bands: Int = 8,
              multiProbe: Boolean = true, maxBucket: Int = 1000): DataFrame = {
    val cand = lshCandidates(corpus, queries, dim, rowsPerBand, bands,
      multiProbe, maxBucket)
    val scored = cand
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("q_emb"), col("c_emb")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Pivot-partitioned k-NN graph — the corpus-scale replacement for
    * running [[bruteForceTopK]] corpus-vs-corpus (which broadcasts the whole
    * corpus and scores O(N²) pairs): `nPivots` corpus vectors (the lowest
    * vec_ids — deterministic, and exactly replayable in oracle SQL, where
    * KMeans centroids are not) partition the corpus into cells by
    * nearest-pivot cosine; every vector probes its `nProbe` nearest cells
    * and scores exact cosine only against those cells' members. This is the
    * list-of-clusters / IVF shape with sampled pivots instead of fitted
    * centroids.
    *
    * Scale economics: candidate volume per query is ~`nProbe/nPivots` of the
    * corpus (pick `nPivots` ~ √N so within-cell work is ~N^1.5 total, never
    * N²); the candidate join is keyed on the cell id — a shuffle join with
    * NO corpus broadcast — and each embedding travels once per (vector,
    * probe), not once per pair: scoring happens inside the cell-join stage,
    * and only `(query_id, neighbor_id, cos)` scalars enter the per-query
    * top-k window. ScaleSpec asserts the no-cartesian plan.
    */
  /** Scale-derived pivot count: ⌈√N⌉ clamped to [16, 65536] — the
    * economics the [[knnGraphPivoted]] scaladoc prescribes ("pick nPivots
    * ~ √N so within-cell work is ~N^1.5 total"), as the DEFAULT rather
    * than prose (r12 verdict item 6). The 65536 ceiling keeps the
    * broadcast pivot table executor-sized at any N (√10⁹ ≈ 32k fits;
    * past that IVF with a fitted quantizer is the right tier anyway).
    */
  def derivedPivotCount(n: Long): Int =
    math.max(16L, math.min(65536L, math.round(math.sqrt(n.toDouble)))).toInt

  def knnGraphPivoted(corpus: DataFrame, k: Int,
                      nPivots: Int = 0, nProbe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // nPivots <= 0 → derive from a cheap count (one columnless scan;
    // callers wanting oracle-exact replay pin an explicit count)
    // persist BEFORE the derived-count scan (r13 ADVICE): the count is
    // eager, and an unpersisted caller lineage would re-execute in full —
    // while the very next stage (pivot ranking) re-reads the corpus anyway.
    // Idempotent when the caller already persisted (graphTopK does).
    val np = if (nPivots > 0) nPivots
      else derivedPivotCount(corpus
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count())
    val pivots = broadcast(corpus.orderBy("vec_id").limit(np)
      .select(col("vec_id").as("pid"), col("embedding").as("p_emb")))
    // rank every pivot per vector ONCE: rank 1 is the vector's own cell
    // (each vector lives in exactly one cell, so a (query, neighbor) pair
    // can only form in one cluster — no post-join distinct needed), ranks
    // 1..nProbe are the cells it probes as a query
    val pw = Window.partitionBy("vec_id").orderBy(col("pcos").desc, col("pid").asc)
    // rank on (vec_id, pid, pcos) ONLY — the embedding payload used to
    // ride the crossJoin → window exchange (nPivots copies of every
    // vector through the shuffle and the cache); ranking needs ids and
    // scores, so the payload re-attaches BY ID after the pr filter
    // (guide §8: move decisions on a lightweight proxy, heavy bytes
    // once). The rejoin's corpus-side exchange subtree is identical for
    // both readers, so ReuseExchange ships the payload once.
    val ranked = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(pivots)
      .select(col("vec_id"), col("pid"),
        call_function("cosine_sim", col("embedding"), col("p_emb")).as("pcos"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      // CALLER CONTRACT (shared by every persisting operator here): the
      // cached pivot-ranking relation lives until the caller runs
      // spark.catalog.clearCache() (Bench/Verify do per query) or the
      // session ends — a long-lived session calling this repeatedly
      // without clearing accumulates dead cached relations. The persist
      // cannot be scoped inside: the plan reads it twice (cells + probes)
      // and the result is lazy, so there is no safe unpersist point before
      // the caller materializes it.
      // EAGER fill (r16): cells and probes are SIBLING stages of the cell
      // join — a lazy fill is raced and the crossJoin+window pivot
      // ranking re-runs once per reader (the r15 eager-persist finding;
      // this operator-level site was missed then).
      .transform(graft.operators.Dedup.eagerPersist)
    val withEmb = ranked
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val cells = withEmb.filter(col("pr") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        col("pid").as("cluster"))
    val probes = withEmb
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("pid").as("cluster"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    cells.join(probes, "cluster")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("q_emb"), col("c_emb")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Graph-ANN top-k: `hops` beam-search expansions over the
    * [[knnGraphPivoted]] k-NN graph — the recall tier between IVF-style
    * cell probing and brute force. Seeds are the query's own graph edges
    * (cell-bounded, graphK per query); each hop expands the previous
    * frontier to its neighbors (the NSW/DiskANN expansion step — the plan
    * stays one static DAG with one ids-only self-join per hop); exact
    * cosine re-ranks the ≤ Σ_{h≤hops} graphK^{h+1} candidate set to the
    * final top-k. Hops recover misses the cell partition creates: a true
    * neighbor in a non-probed cell is reachable when a chain of bridging
    * neighbors spans the cells, and each extra hop lengthens the chain the
    * search can follow (recall is monotone in `hops` by construction —
    * the candidate set only grows).
    *
    * Everything is deterministic (lowest-id pivots, exact cosine,
    * id tie-breaks), so unlike the KMeans-backed IVF entries this ranking
    * is exactly replayable in oracle SQL. Queries must be graph vertices
    * (corpus members) — the "expand from a known document" shape every
    * corpus-curation search has; foreign query vectors enter via
    * [[ivfTopK]]/[[lshTopK]] instead.
    *
    * Scale shape: the graph build is [[knnGraphPivoted]] (no corpus
    * broadcast, cell-bounded candidates); edges are ids-only
    * (N·graphK rows); seeds + hop are two self-joins of that ids-only
    * relation; embeddings rejoin BY ID once, for the bounded re-rank.
    * Inherits the caller-must-clear-cache contract of the graph build.
    * The checkpointed edge blocks are not cached relations: Spark's
    * `ContextCleaner` frees them once the frame is unreachable, not
    * `clearCache()`.
    */
  def graphTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nPivots: Int = 0, nProbe: Int = 4, graphK: Int = 5,
                hops: Int = 1): DataFrame = {
    require(hops >= 1, "graphTopK needs at least one expansion hop")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // persist the corpus up front when the pivot count will be DERIVED
    // (r13 ADVICE): the derivation counts eagerly, and this relation is
    // read again by both the graph build and the re-rank rejoin below
    val corpusRel =
      if (nPivots > 0) corpus
      else corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the seed join and every hop join are sibling readers of the edge
    // relation; the eager checkpoint fills it once for all of them. It is
    // also a lineage cut: a persisted relation reprints its cached plan
    // (the whole graph build) once per reader, and with one reader per
    // unrolled hop that outgrew the giant-plan gate. A plain
    // localCheckpoint, not a BoundedCheckpoints one: the edges are
    // N·graphK rows and grow with the corpus.
    val edges = knnGraphPivoted(corpusRel, graphK, nPivots, nProbe)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint(eager = true)
    val qids = broadcast(queries.select(col("vec_id").as("query_id")))
    val seeds = edges.join(qids, col("src") === col("query_id"))
      .select(col("query_id"), col("dst").as("cand"))
    // iterative beam expansion: each hop joins the previous frontier to the
    // ids-only edge relation and dedupes — frontier stays ≤ graphK^(h+1)
    // rows per query (distinct per hop keeps the blowup additive, not
    // multiplicative, when hops share neighbors)
    var frontier = seeds
    var beam = seeds
    for (_ <- 1 to hops) {
      frontier = frontier.as("s")
        .join(edges.as("e"), col("s.cand") === col("e.src"))
        .select(col("s.query_id").as("query_id"), col("e.dst").as("cand"))
        .distinct()
      beam = beam.unionAll(frontier)
    }
    beam = beam
      .filter(col("cand") =!= col("query_id"))
      .distinct()
    val rescored = beam
      .join(corpusRel.select(col("vec_id").as("cand"), col("embedding").as("c_emb")),
        Seq("cand"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("cand").as("neighbor_id"),
        call_function("cosine_sim", col("q_emb"), col("c_emb")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Quantized-scoring top-k — the memory-bandwidth ANN path: candidates
    * are ranked with int8 codes (per-vector affine min-max quantization,
    * the `vector_quantize_int8` precompute) and only the top
    * `k × candidateFactor` per query are re-ranked with exact float
    * cosine. At corpus scale the scoring scan reads one byte per
    * dimension plus four scalars per vector instead of a 4-byte float —
    * a 4× cut in the dominant read — and the candidate window shuffles
    * only `(query_id, neighbor_id, score)` scalars; float embeddings are
    * joined back BY ID for the bounded re-rank stage, never shipped
    * through the scoring exchange.
    *
    * Approximate dot from the affine reconstruction v̂ᵢ = mn + cᵢ·rng/255:
    * `Σ v̂a·v̂b = mn_a·mn_b·d + mn_a·s_b·S_b + mn_b·s_a·S_a + s_a·s_b·(ca·cb)`
    * where `s = rng/255`, `S = Σ codes` and `ca·cb` is the native
    * `dot_i64` integer kernel (one fused loop per pair, whole-stage
    * codegen). Norms use the same reconstruction, so the approximate
    * cosine's error is bounded by the quantization step — recall against
    * the exact ranking is asserted in ScaleSpec.
    */
  /** Per-vector quantization metadata via the one-pass `quantize_meta`
    * native expression: codes BIT-PACKED into a `binary` column (truly one
    * byte per dimension in memory, in shuffles, and at rest — an
    * `array<bigint>` code column would cost 8 bytes/element everywhere)
    * plus the four scalars the approximate dot needs.
    * NB: column names must differ by more than case — Spark resolution is
    * case-insensitive, so e.g. `cs`/`cS` would silently collide.
    */
  private def quantMeta(df: DataFrame, idAs: String, p: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col("vec_id").as(idAs),
        call_function("quantize_meta", col("embedding")).as("_qm"))
      .filter(col("_qm").isNotNull)
      .select(col(idAs),
        col("_qm.code").as(s"${p}_code"),
        col("_qm.mn").as(s"${p}_mn"),
        col("_qm.scale").as(s"${p}_scale"),
        octet_length(col("_qm.code")).cast("double").as(s"${p}_dim"),
        col("_qm.csum").cast("double").as(s"${p}_csum"),
        col("_qm.cdot").cast("double").as(s"${p}_cdot"))
      .withColumn(s"${p}_nsq",
        col(s"${p}_mn") * col(s"${p}_mn") * col(s"${p}_dim") +
          lit(2.0) * col(s"${p}_mn") * col(s"${p}_scale") * col(s"${p}_csum") +
          col(s"${p}_scale") * col(s"${p}_scale") * col(s"${p}_cdot"))
  }

  /** Approximate cosine from the affine reconstruction
    * v̂ᵢ = mn + cᵢ·scale over two [[quantMeta]] prefixes `c`/`q`: one
    * native `dot_u8` per pair plus scalar algebra.
    */
  private def approxCos: Column = {
    val approxDot =
      col("c_mn") * col("q_mn") * col("c_dim") +
        col("q_mn") * col("c_scale") * col("c_csum") +
        col("c_mn") * col("q_scale") * col("q_csum") +
        col("c_scale") * col("q_scale") *
          call_function("dot_u8", col("c_code"), col("q_code")).cast("double")
    approxDot / sqrt(col("c_nsq") * col("q_nsq"))
  }

  /** Top `k·candidateFactor` (query_id, neighbor_id) candidates by `acos`,
    * exact-cosine re-ranked to the final top-k. Float embeddings enter by
    * id here and ONLY here — never through the candidate-scoring stage;
    * the query side stays broadcast.
    */
  private def rerankExact(scored: DataFrame, corpus: DataFrame, queries: DataFrame,
                          k: Int, candidateFactor: Int): DataFrame = {
    val candW = Window.partitionBy("query_id")
      .orderBy(col("acos").desc, col("neighbor_id").asc)
    val cands = scored.withColumn("cr", row_number().over(candW))
      .filter(col("cr") <= k * candidateFactor)
      .select("query_id", "neighbor_id")
    val rerank = cands
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("cosine_sim", col("q_emb"), col("c_emb")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    rerank.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    candidateFactor: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // persisted: projection collapse would otherwise re-inline the whole
    // quantization tree at every downstream column reference, recomputing
    // the codes per candidate pair instead of once per vector (this is the
    // same "captured subtree" economics as the HOF-lambda trap)
    val c = quantMeta(corpus, "neighbor_id", "c")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = quantMeta(queries, "query_id", "q")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .filter(col("c_nsq") > 0.0 && col("q_nsq") > 0.0)
      .select(col("query_id"), col("neighbor_id"), approxCos.as("acos"))
    rerankExact(scored, corpus, queries, k, candidateFactor)
  }

  /** IVF × quantized scoring — the production ANN index shape (FAISS
    * IVF-ADC): the coarse quantizer bounds WHICH vectors are scored
    * (`nProbe/nCentroids` of the corpus per query), the int8 codes bound
    * WHAT the scoring reads (one byte per dimension), and exact cosine
    * re-ranks the bounded candidate set. At rest the index relation is
    * `(vec_id, cluster, codes, 4 scalars)` — float embeddings are only
    * fetched by id for the re-rank.
    */
  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                       nCentroids: Int = 16, nProbe: Int = 4, seed: Long = 42L,
                       candidateFactor: Int = 4, fitFraction: Double = 0.5,
                       fitMaxRows: Int = 100000): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val featured = corpus.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("features"))
    val model = fitCoarseKMeans(featured, nCentroids, seed, fitFraction, fitMaxRows)
    val assigned = model.transform(featured).select(col("vec_id"), col("cluster"))
    val c = quantMeta(corpus, "neighbor_id", "c")
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = quantMeta(queries, "query_id", "q")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = ivfProbes(model, queries, nProbe).select("query_id", "cluster")
    val scored = c.join(broadcast(probes.join(q, Seq("query_id"))), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .filter(col("c_nsq") > 0.0 && col("q_nsq") > 0.0)
      .select(col("query_id"), col("neighbor_id"), approxCos.as("acos"))
    rerankExact(scored, corpus, queries, k, candidateFactor)
  }

  /** Exact-arithmetic Lloyd k-means over integer-quantized embeddings —
    * the fully-deterministic clustering tier beside the Spark-ML cells of
    * [[fitCoarseKMeans]] (whose float means are seed- and order-dependent
    * and can only carry property oracles). Here every number is integer:
    * vectors quantize to `floor(x·scale)`, squared distances are integer
    * sums, and centroid updates floor the integer mean — so two unrolled
    * Lloyd rounds replay bit-for-bit in SQL, assignments included.
    * (`floor(sum/n)` via double division is exact: |sum| ≤ n·scale·|x| ≪
    * 2^53 and a non-divisible quotient sits ≥ 1/n away from any integer.)
    *
    * Init = the k lowest vec_ids (deterministic); ties in assignment
    * break toward the lower cluster id; empty clusters drop, as in
    * textbook Lloyd. Fixed `iters` keeps the plan static — no driver
    * loop state. Scale shape: assignment is the honest O(n·d·k) join on
    * the dimension index with an ids-only shuffle; at corpus scale the
    * cell-restricted variant ([[graft.operators.Dedup.semanticAssignments]])
    * bounds candidates instead — this operator is the exact tier you run
    * on the sampled fit set, and the oracle-grade audit of any cheaper
    * clustering.
    *
    * Returns (vec_id, cluster, d2) after `iters` update rounds and a
    * final assignment. (caller-must-clear-cache: the quantized relation
    * stays persisted until the result materializes.)
    */
  def lloydKMeansQ(emb: DataFrame, k: Int = 8, iters: Int = 2,
                   scale: Int = 10000): DataFrame = {
    val (_, _, a) = lloydChainQ(
      emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
        .select(col("vec_id"), col("idx").cast("long").as("idx"),
          floor(col("x").cast("double") * scale).cast("long").as("qv")),
      k, iters)
    a.select(col("vec_id"), col("cl").as("cluster"), col("d2"))
  }

  /** The shared exact-Lloyd chain over an integer `(vec_id, idx, qv)`
    * relation: (persisted quantized relation, final centroids
    * (cl, idx, cv), final assignments (vec_id, cl, d2)). Seeds are the k
    * LOWEST vec_ids present (not `vec_id < k`, which is empty on a
    * sampled fit set whose ids don't start at 0). Backs [[lloydKMeansQ]]
    * and the residual quantizer. (caller-must-clear-cache: the input
    * relation stays persisted until a result materializes.)
    */
  private def lloydChainQ(quant: DataFrame, k: Int,
                          iters: Int): (DataFrame, DataFrame, DataFrame) = {
    // eager fill: the seed scan and the first assignment join are sibling
    // readers (Dedup.eagerPersist — racing fills recompute the quantize)
    val u = Dedup.eagerPersist(quant)
    def assign(cent: DataFrame): DataFrame = {
      val d = u.join(cent, "idx")
        .groupBy(col("vec_id"), col("cl"))
        .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cl"))
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("cl"), col("d2"))
    }
    val seedIds = u.select("vec_id").distinct().orderBy("vec_id").limit(k)
    var cent = u.join(seedIds, Seq("vec_id"))
      .select(col("vec_id").as("cl"), col("idx"), col("qv").as("cv"))
    var a = assign(cent)
    var i = 0
    while (i < iters) {
      // DECLARED driver-bounded checkpoint per update round (r13): the
      // centroid relation is k·d rows (512 at the defaults) at ANY corpus
      // size, each round's plan otherwise embeds the whole previous
      // round's window chain, and an undeclared cut would read as an
      // unbounded join side to the plan gates
      cent = graft.tools.BoundedCheckpoints.checkpoint(
        u.join(a.select("vec_id", "cl"), "vec_id")
          .groupBy("cl", "idx")
          .agg(floor(sum("qv").cast("double") / count(lit(1))).cast("long").as("cv")),
        eager = false)
      a = assign(cent)
      i += 1
    }
    (u, cent, a)
  }

  /** Residual vector quantization — the two-level codebook scheme behind
    * modern neural audio/embedding codecs, in the same exact-integer
    * discipline: level 1 is one Lloyd update round ([[lloydChainQ]]),
    * level 2 quantizes the integer RESIDUALS `qv − cv₁` against a
    * codebook of the ZERO vector (code −1: "keep the level-1
    * reconstruction") plus the k2−1 lowest vec_ids' residual vectors.
    * The zero codeword makes the stage monotone by construction —
    * `d2_res ≤ d2_l1` for every vector, with equality exactly when no
    * codeword beats keeping the residual — so the emitted distortion
    * pair states precisely what the extra log₂(k2) bits buy. Fully
    * SQL-replayable.
    */
  def residualQuantizeQ(emb: DataFrame, k1: Int = 8, k2: Int = 4,
                        scale: Int = 10000): DataFrame = {
    val quant = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx").cast("long").as("idx"),
        floor(col("x").cast("double") * scale).cast("long").as("qv"))
    val (u, cent1, a1raw) = lloydChainQ(quant, k1, iters = 1)
    // localCheckpoint both stage-1 outputs: the residual relation is
    // referenced three times downstream (seeds2, the zero-codeword union,
    // and the d2 scan) and a1 twice, so without truncation the composed
    // plan string repeats the Lloyd window chain ~6× and passes Spark's
    // 262 KB print ceiling. Materialization is one extra pass over
    // relations the stage re-reads anyway; no broadcast consumes them.
    val a1 = a1raw.localCheckpoint(true)
    val res = u
      .join(a1.select(col("vec_id"), col("cl")), "vec_id")
      .join(cent1, Seq("cl", "idx"))
      .select(col("vec_id"), col("cl").as("code1"), col("idx"),
        (col("qv") - col("cv")).as("rv"))
      .localCheckpoint(true)
    val seeds2 = res.select("vec_id").distinct().orderBy("vec_id").limit(k2 - 1)
    val cent2 = res.join(seeds2, Seq("vec_id"))
      .select(col("vec_id").as("cl2"), col("idx"), col("rv").as("cv2"))
      .unionAll(res.select("idx").distinct()
        .select(lit(-1L).as("cl2"), col("idx"), lit(0L).as("cv2")))
    val d2 = res.join(cent2, "idx")
      .groupBy(col("vec_id"), col("code1"), col("cl2"))
      .agg(sum((col("rv") - col("cv2")) * (col("rv") - col("cv2"))).as("d2_res"))
    val w = Window.partitionBy("vec_id").orderBy(col("d2_res"), col("cl2"))
    d2.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(a1.select(col("vec_id"), col("d2").as("d2_l1")), "vec_id")
      .select(col("vec_id"), col("code1"), col("cl2").as("code2"),
        col("d2_l1"), col("d2_res"))
  }

  /** Top principal direction of the embedding cloud by fixed-point power
    * iteration — the whitening/decorrelation primitive (ABTT-style "remove
    * the dominant direction" post-processing, drift monitoring of an
    * embedding space over time) in the same exact-integer discipline as
    * [[lloydKMeansQ]]: quantize to `scale` fixed-point, center by the
    * floored integer mean, accumulate the d×d covariance as exact integer
    * sums (one self-join on vec_id + one hash aggregate — the standard
    * outer-product aggregate, partial-aggregated map-side), then `iters`
    * unrolled matrix-vector rounds. Each round renormalizes to ~`scale`
    * by POSITIVE integer division (sign split off first — Spark `div`
    * truncates toward zero while DuckDB `//` floors, so negative
    * numerators would diverge between engines; positive operands agree).
    * Deterministic by construction: the rounds replay bit-for-bit as SQL
    * CTEs.
    *
    * Overflow audit at long width: |centered| ≤ 2·scale, so the RAW
    * second-moment sum is ≤ n·4·scale² — in long range to n ≈ 2.3·10¹⁰
    * vectors at scale 10⁴. The covariance is then NORMALIZED by n
    * (sign-split integer division — the power direction is invariant to
    * the 1/n factor), so each matvec round's product is ≤ d·4·scale³ =
    * 2.56·10¹⁴ at d = 64, scale 10⁴ — n-INDEPENDENT. Without the
    * normalization the round product d·(n·4·scale²)·scale would wrap
    * silently past n ≈ 3.6·10⁴ (non-ANSI Spark); the binding constraint
    * is now the raw sum, comfortably beyond a 100 TB corpus.
    *
    * Returns (dim_idx, weight): the `iters`-round direction at fixed
    * point scale (max |weight| ≈ scale).
    */
  /** The d×d integer covariance of the quantized embedding cloud,
    * NORMALIZED by the vector count with sign-split integer division
    * (Spark `div` truncates toward zero, DuckDB `//` floors — positive
    * operands agree), COLLECTED to the driver. The quantize, center and
    * outer-product aggregate stay distributed (they touch the corpus);
    * the collect is d² rows where d = embedding DIMENSIONALITY —
    * model-shaped and corpus-INDEPENDENT (4096 longs at d = 64, the same
    * bounded-collect class as the Lloyd centroid frames). Normalizing by
    * n keeps every downstream matvec product n-independent — see the
    * overflow audit on [[pcaPowerQ]].
    *
    * Returns (sorted dim indices, dense row-major cov matrix).
    */
  private def covCollectQ(emb: DataFrame, scale: Int): (Array[Long], Array[Array[Long]]) = {
    val u = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx").cast("long").as("idx"),
        floor(col("x").cast("double") * scale).cast("long").as("qv"))
    val mu = u.groupBy("idx")
      .agg(floor(sum("qv").cast("double") / count(lit(1))).cast("long").as("mu"))
    val c = u.join(mu, "idx")
      .select(col("vec_id"), col("idx"), (col("qv") - col("mu")).as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = emb.agg(count(lit(1)).as("n"))
    val rows = c.as("a").join(c.as("b"), "vec_id")
      .groupBy(col("a.idx").as("i"), col("b.idx").as("j"))
      .agg(sum(col("a.cv") * col("b.cv")).as("s"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        when(col("s") < 0, -expr("abs(s) div n")).otherwise(expr("abs(s) div n"))
          .cast("long").as("cov"))
      .collect()
    c.unpersist()
    val dims = rows.map(_.getLong(0)).distinct.sorted
    val pos = dims.zipWithIndex.toMap
    val m = Array.ofDim[Long](dims.length, dims.length)
    rows.foreach(r => m(pos(r.getLong(0)))(pos(r.getLong(1))) = r.getLong(2))
    (dims, m)
  }

  /** Driver-side replay of the distributed fixed-point algebra — the
    * power rounds operate on d-length integer vectors (model-shaped, not
    * corpus-shaped), so past [[covCollectQ]] nothing is distributed-sized
    * and running the rounds as Spark jobs is pure scheduler overhead (r15
    * measurement: the unrolled rounds spent ~100 AQE jobs per entry at
    * 1.3 s total task time). Bit-identical semantics: exact long sums,
    * truncating division on non-negative operands after the sign split —
    * and `Math.*Exact` replicates ANSI's loud-overflow contract (the
    * distributed rounds would throw, not wrap).
    */
  private def signSplitDiv(x: Long, d: Long): Long =
    if (x < 0) -(Math.absExact(x) / d) else x / d

  private def matvecQ(m: Array[Array[Long]], v: Array[Long]): Array[Long] =
    m.map(row => row.zip(v).foldLeft(0L) { case (acc, (a, b)) =>
      Math.addExact(acc, Math.multiplyExact(a, b)) })

  private def normalizeQ(w: Array[Long], scale: Int): Array[Long] =
    // empty-corpus guard: covCollectQ yields zero dims on an empty
    // embeddings relation and `empty.max` throws where the distributed
    // implementation returned an empty frame — keep that contract
    if (w.isEmpty) w else {
      val m = Math.max(w.map(Math.absExact).max / scale, 1L)
      w.map(signSplitDiv(_, m))
    }

  /** [[pcaPowerQ]]'s direction as driver arrays: (sorted dims, weights). */
  private def pcaArrayQ(emb: DataFrame, iters: Int, scale: Int): (Array[Long], Array[Long]) = {
    val (dims, cov) = covCollectQ(emb, scale)
    var v = Array.fill(dims.length)(scale.toLong)
    for (_ <- 1 to iters) v = normalizeQ(matvecQ(cov, v), scale)
    (dims, v)
  }

  /** [[pca2PowerQ]]'s two directions as driver arrays: (dims, w1, w2). */
  private def pca2ArrayQ(emb: DataFrame, iters: Int, scale: Int)
      : (Array[Long], Array[Long], Array[Long]) = {
    val (dims, cov) = covCollectQ(emb, scale)
    def round(v: Array[Long]): Array[Long] = normalizeQ(matvecQ(cov, v), scale)
    var v1 = Array.fill(dims.length)(scale.toLong)
    for (_ <- 1 to iters) v1 = round(v1)
    val uu = v1.foldLeft(0L)((acc, x) => Math.addExact(acc, Math.multiplyExact(x, x)))
    def deflate(v: Array[Long]): Array[Long] = {
      val dot = v.zip(v1).foldLeft(0L) { case (acc, (a, b)) =>
        Math.addExact(acc, Math.multiplyExact(a, b)) }
      normalizeQ(v.zip(v1).map { case (vi, ui) =>
        Math.subtractExact(vi, signSplitDiv(Math.multiplyExact(dot, ui), uu)) }, scale)
    }
    var v2 = Array.fill(dims.length)(scale.toLong)
    // seed the deflated iteration off u's span before the first matvec,
    // or the first round is dominated by the top direction
    v2 = deflate(v2)
    for (_ <- 1 to iters) v2 = deflate(round(v2))
    (dims, v1, v2)
  }

  def pcaPowerQ(emb: DataFrame, iters: Int = 3, scale: Int = 10000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (dims, v) = pcaArrayQ(emb, iters, scale)
    dims.zip(v).toSeq.toDF("dim_idx", "weight")
  }

  /** Top-TWO principal directions: the dominant one exactly as
    * [[pcaPowerQ]], the second by DEFLATED power iteration — after each
    * matrix-vector round the iterate is (1) normalized to ~`scale` and
    * (2) re-orthogonalized against the first direction with the same
    * sign-split integer projection ABTT uses, so the iteration converges
    * inside u⊥ toward the second eigenvector. Normalizing BEFORE the
    * projection keeps every product inside long range (the raw matvec ×
    * u dot would overflow); a second max-abs normalization after the
    * projection restores the fixed-point scale when the residual is
    * small. All integer, all replayable — the 2-D embedding-cloud
    * coordinate frame (visualization, whitening, drift monitoring in
    * two directions).
    *
    * Returns (dim_idx, w1, w2).
    */
  def pca2PowerQ(emb: DataFrame, iters: Int = 3, scale: Int = 10000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (dims, v1, v2) = pca2ArrayQ(emb, iters, scale)
    dims.indices.map(i => (dims(i), v1(i), v2(i))).toDF("dim_idx", "w1", "w2")
  }

  /** 2-D projection histogram over the [[pca2PowerQ]] frame: every
    * vector's integer coordinates along (w1, w2) — sign-split division
    * by the direction norms keeps them in fixed point — binned into a
    * coarse grid. This IS the embedding-cloud scatter plot as a
    * relation: ~grid² rows regardless of corpus size, the artifact a
    * monitoring dashboard renders. Projection is two broadcast joins of
    * the 64-row frame against the exploded corpus — one scan.
    */
  def pcaScatterBins(emb: DataFrame, iters: Int = 3, scale: Int = 10000,
                     binWidth: Long = 1000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the frame is one row per embedding DIMENSION (d = 64 on the fixture;
    // model-shaped, not corpus-shaped) — a driver array (pca2ArrayQ), so
    // the norms become plan literals and the projection joins a
    // LocalRelation (literally bounded to the plan gates; broadcast-safe)
    val (dims, w1, w2) = pca2ArrayQ(emb, iters, scale)
    val frame = dims.indices.map(i => (dims(i), w1(i), w2(i)))
      .toDF("idx", "w1", "w2")
    val n1 = w1.foldLeft(0L)((a, x) => Math.addExact(a, Math.multiplyExact(x, x)))
    val n2 = w2.foldLeft(0L)((a, x) => Math.addExact(a, Math.multiplyExact(x, x)))
    val q = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx").cast("long").as("idx"),
        floor(col("x").cast("double") * scale).cast("long").as("qv"))
    val dots = q.join(broadcast(frame), "idx")
      .groupBy("vec_id")
      .agg(sum(col("qv") * col("w1")).as("d1"), sum(col("qv") * col("w2")).as("d2"))
    // coordinate = scale·dot div norm (sign-split), then floor-binned —
    // binning by floor(double division) so Spark div and DuckDB // agree
    dots
      .select(
        when(col("d1") < 0, -expr(s"abs(d1) * ${scale.toLong} div ${n1}L"))
          .otherwise(expr(s"abs(d1) * ${scale.toLong} div ${n1}L")).as("p1"),
        when(col("d2") < 0, -expr(s"abs(d2) * ${scale.toLong} div ${n2}L"))
          .otherwise(expr(s"abs(d2) * ${scale.toLong} div ${n2}L")).as("p2"))
      .select(floor(col("p1").cast("double") / binWidth).cast("long").as("bx"),
        floor(col("p2").cast("double") / binWidth).cast("long").as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
  }

  /** All-but-the-top whitening (Mu & Viswanath 2018): subtract each
    * vector's projection on the [[pcaPowerQ]] dominant direction — the
    * post-processing that removes the common-direction bias inflating
    * every cosine similarity. Same fixed-point discipline: with u the
    * integer direction and uu = Σu², the projection term per coordinate
    * is sign-split positive division (dot·uᵢ) div uu, so the whitened
    * coordinates replay bit-for-bit in SQL. Output restricted to
    * `idPred` (the corpus-wide transform is the same plan without the
    * filter; the catalog entry bounds its dump).
    *
    * Overflow: |dot| ≤ d·scale², |dot·uᵢ| ≤ d·scale³ — 6.4·10¹³ at
    * d = 64, scale = 10⁴, far inside long range.
    * (caller-must-clear-cache: the quantized sample relation stays
    * persisted until the result materializes.)
    */
  def abttWhitenQ(emb: DataFrame, idPred: Column, iters: Int = 3,
                  scale: Int = 10000): DataFrame = {
    // read by uu, dots, and the projection; DECLARED driver-bounded — the
    // direction vector is one row per embedding DIMENSION (d = 64 here,
    // record-shaped at any corpus size), so the checkpoint leaf is safe
    // for the plan gates to trust (r13: an undeclared cut read as an
    // unbounded join side and false-flagged the idx joins)
    val u = graft.tools.BoundedCheckpoints.checkpoint(
      pcaPowerQ(emb, iters, scale)
        .select(col("dim_idx").as("idx"), col("weight").as("uw")))
    val uu = u.agg(sum(col("uw") * col("uw")).as("uu"))
    val q = emb.filter(idPred)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx").cast("long").as("idx"),
        floor(col("x").cast("double") * scale).cast("long").as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dots = q.join(u, "idx").groupBy("vec_id")
      .agg(sum(col("qv") * col("uw")).as("dot"))
    q.join(u, "idx").join(dots, "vec_id").crossJoin(broadcast(uu))
      .select(col("vec_id"), col("idx").as("dim_idx"),
        (col("qv") - when(col("dot") * col("uw") < 0,
            -expr("abs(dot * uw) div uu"))
          .otherwise(expr("abs(dot * uw) div uu"))).cast("long").as("whitened"))
  }

  /** Product-quantization codebook training: [[lloydKMeansQ]]'s exact
    * integer Lloyd run independently in each of `nSub` contiguous
    * `subDim`-dimensional subspaces — one grouped plan, `sub` riding
    * every key, NOT nSub separate jobs. The per-(vector, subspace) code
    * assignment IS the PQ encoding; `d2` is that subspace's exact
    * integer quantization error. Complements `vector_quantize_int8`
    * (scalar) and `ann_quantized_topk` (which consumes codebooks):
    * codes take nSub·log₂(k) bits/vector. Same determinism contract as
    * [[lloydKMeansQ]] — every round replays bit-for-bit in SQL.
    * (caller-must-clear-cache: the quantized relation stays persisted
    * until the result materializes.)
    */
  def pqTrainQ(emb: DataFrame, nSub: Int = 4, subDim: Int = 16, k: Int = 4,
               iters: Int = 1, scale: Int = 10000): DataFrame = {
    val (_, _, codes) = pqChainQ(emb, nSub, subDim, k, iters, scale)
    codes.select(col("vec_id"), col("sub").as("subspace"),
      col("cl").as("code"), col("d2"))
  }

  /** The shared PQ training chain: quantized relation `u` (truncated to
    * the first nSub·subDim dimensions, so `nSub` is enforced rather than
    * silently derived), final centroid table `cent` (cl, sub, idx, cv)
    * and final assignments `codes` (vec_id, sub, cl, d2) after `iters`
    * update rounds. Seeds are the k LOWEST vec_ids actually present —
    * not `vec_id < k`, which would return an empty clustering on any
    * sampled fit set whose ids don't start at 0.
    * (caller-must-clear-cache: `u` stays persisted until a result
    * materializes.)
    */
  private def pqChainQ(emb: DataFrame, nSub: Int, subDim: Int, k: Int,
                       iters: Int, scale: Int): (DataFrame, DataFrame, DataFrame) = {
    val u = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .filter(col("idx") < nSub * subDim)
      .select(col("vec_id"), expr(s"CAST(idx div $subDim AS BIGINT)").as("sub"),
        col("idx").cast("long").as("idx"),
        floor(col("x").cast("double") * scale).cast("long").as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def assign(cent: DataFrame): DataFrame = {
      val d = u.join(cent, Seq("sub", "idx"))
        .groupBy(col("vec_id"), col("sub"), col("cl"))
        .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
      val w = Window.partitionBy("vec_id", "sub").orderBy(col("d2"), col("cl"))
      d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("cl"), col("d2"))
    }
    val seedIds = u.select("vec_id").distinct().orderBy("vec_id").limit(k)
    var cent = u.join(seedIds, Seq("vec_id"))
      .select(col("vec_id").as("cl"), col("sub"), col("idx"), col("qv").as("cv"))
    var a = assign(cent)
    var i = 0
    while (i < iters) {
      cent = u.join(a.select("vec_id", "sub", "cl"), Seq("vec_id", "sub"))
        .groupBy("cl", "sub", "idx")
        .agg(floor(sum("qv").cast("double") / count(lit(1))).cast("long").as("cv"))
      a = assign(cent)
      i += 1
    }
    (u, cent, a)
  }

  /** PQ search by asymmetric distance computation (Jégou et al. 2011) —
    * the tier the codebook exists for. Per query: one tiny integer
    * distance table (nSub × k entries: exact squared distance from the
    * query's sub-vector to each centroid), broadcast against the corpus
    * CODES — the corpus embeddings are never touched at query time,
    * which is the PQ promise (nSub·log₂k bits per vector in the index).
    * Every number is integer, so the ranking — approximate by
    * construction, exact in arithmetic — replays bit-for-bit in SQL,
    * unlike float-ADC implementations that can only be property-tested.
    * Tie-breaks: lowest distance, then lowest neighbor id.
    */
  def pqAdcTopK(emb: DataFrame, queries: DataFrame, k: Int = 5, nSub: Int = 4,
                subDim: Int = 16, kCodes: Int = 4, iters: Int = 1,
                scale: Int = 10000): DataFrame = {
    val (u, cent, codes) = pqChainQ(emb, nSub, subDim, kCodes, iters, scale)
    val dtab = u
      .join(broadcast(queries.select(col("vec_id"))), Seq("vec_id"))
      .withColumnRenamed("vec_id", "query_id")
      .join(cent, Seq("sub", "idx"))
      .groupBy(col("query_id"), col("sub"), col("cl"))
      .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("dq"))
    val scored = codes.select(col("vec_id"), col("sub"), col("cl"))
      .join(broadcast(dtab), Seq("sub", "cl"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum("dq").as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk").cast("long").as("rnk"), col("adist"))
  }
}
