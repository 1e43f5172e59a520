package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Shared helpers for catalog entry bodies. */
private[queries] object QueryUtil {

  /** Chainable persist(MEMORY_AND_DISK) + eager cache fill.
    *
    * Catalog entries persist a relation precisely because ≥ 2 downstream
    * branches read it — and those branches are SIBLING query stages that
    * AQE materializes concurrently, so a lazily-filled cache is raced and
    * the persisted pipeline recomputed once per reader (r15 profile:
    * duplicate "Block rdd_N already exists" fills under the fan-out
    * entries; see [[graft.operators.Dedup.eagerPersist]]). One `count()`
    * pays the cache build exactly once, up front — the build cost itself
    * is identical (InMemoryRelation materializes all columns either way);
    * only the duplicate computes disappear.
    */
  implicit class EagerPersistOps(private val df: DataFrame) extends AnyVal {
    def eagerPersisted: DataFrame = graft.operators.Dedup.eagerPersist(df)
  }

  /** Overlap two INDEPENDENT eager construction pipelines (CC fixpoint
    * loops, eager cache fills) from driver threads — guide §2.6: actions
    * are only sequential because the driver calls them sequentially, and
    * Spark's FIFO scheduler back-fills one pipeline's stragglers with the
    * other's tasks. For barrier-dominated loops (a job + localCheckpoint
    * per round) the walls combine to ~max instead of sum. Results are
    * byte-identical — the same computations, submitted from two threads.
    */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a)
    val fb = Future(b)
    (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
  }

  /** The near-duplicate graph the graph entries run on: the word 3-gram
    * Jaccard >= 0.8 pairs of `Dedup.ngramJaccardPairs` as (`doc_a`,
    * `doc_b`) edges. `OracleSql.jaccardPairs` replays it as `jp`.
    */
  def nearDupEdges(documents: DataFrame): DataFrame =
    Dedup.ngramJaccardPairs(documents, n = 3, pct = 80, maxDf = 0)
      .select(col("doc_a"), col("doc_b"))

  /** The 3-NN graph of the embedding sample `vec_id % 10 = 0` as directed
    * (`doc_a`, `doc_b`) edges, exact cosine with ties by id.
    * `OracleSql.sampleKnnGraph` replays it as an undirected graph.
    */
  def sampleKnnEdges(embeddings: DataFrame): DataFrame = {
    val sub = embeddings.filter(pmod(col("vec_id"), lit(10)) === 0)
    Similarity.bruteForceTopK(sub, sub, k = 3)
      .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
  }

  /** Okapi BM25 idf (`tok`, `idf`, `avgdl`) from each term's document
    * frequency `df` (`tok`, `df`) and the corpus's one `stats` row (`n`
    * documents, `sdl` total length).
    */
  def bm25Idf(df: DataFrame, stats: DataFrame): DataFrame =
    df.crossJoin(broadcast(stats))
      .select(col("tok"),
        log((col("n").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          .as("idf"),
        (col("sdl").cast("double") / col("n")).as("avgdl"))

  /** One term's BM25 score (k1 = 1.2, b = 0.75) in micros from `idf`, `tf`,
    * `dl` and `avgdl`: one chain of IEEE double ops on integer inputs,
    * floored to a long, so the DuckDB oracle replays it bit for bit.
    */
  def bm25TermMicro: Column =
    floor(lit(1e6) * col("idf") * (col("tf") * lit(2.2))
      / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .cast("long")

  /** BM25 lexical score, named `lex`, of every (`query_id`, `doc_id`) pair
    * that shares a term; the queries are the documents with
    * `doc_id % 100 = 0`, and no query scores itself. `OracleSql.bm25Lex`
    * is its replay.
    */
  def bm25QueryScores(documents: DataFrame, lex: String): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    // dl = Σ tf per doc folds from the cached tf instead of a second
    // pass over the exploded tokens (r16, guide §2.3); toks becomes
    // single-reader so its persist (and eager fill job) goes away
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .eagerPersisted
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
    val idf = bm25Idf(tf.groupBy("tok").agg(count(lit(1)).as("df")), stats)
    val qterms = tf.filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id").as("query_id"), col("tok")).distinct()
    qterms.join(tf, "tok")
      .filter(col("doc_id") =!= col("query_id"))
      // no idf hint: idf is VOCABULARY-sized (grows with the corpus);
      // AQE broadcasts it while it fits, shuffles when it does not
      .join(idf, "tok").join(dl, "doc_id")
      .select(col("query_id"), col("doc_id"), bm25TermMicro.as("tm"))
      .groupBy("query_id", "doc_id").agg(sum("tm").as(lex))
  }

  /** Two-sample moments of `o_totalprice` over `orders`: urgent-priority
    * orders (a) against the rest (b). One conditional hash aggregate takes
    * both cohorts' exact decimal sums (order-independent, the same in both
    * engines); `na`, `nb`, `mean_a`, `mean_b`, `var_a` and `var_b` are then
    * double expressions over those six sums. `OracleSql.urgentVsRestMoments`
    * is its replay.
    */
  def urgentVsRestMoments(orders: DataFrame): DataFrame = {
    val x = col("o_totalprice").cast("decimal(18,6)")
    // squares multiply at width 19: both engines then run the exact
    // int128 decimal path ((19,6)^2 -> (38,12)); a width-18 square
    // overflows DuckDB's int64 fast path on real order totals
    val xx = col("o_totalprice").cast("decimal(19,6)")
    val zero = lit(0).cast("decimal(18,6)")
    val zz = lit(0).cast("decimal(19,6)")
    val isA = col("o_orderpriority") === "1-URGENT"
    orders.agg(
        sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA, x).otherwise(zero)).as("sa"),
        sum(when(isA, xx * xx).otherwise(zz * zz)).as("saa"),
        sum(when(!isA, 1L).otherwise(0L)).as("nb"),
        sum(when(!isA, x).otherwise(zero)).as("sb"),
        sum(when(!isA, xx * xx).otherwise(zz * zz)).as("sbb"))
      .select(col("na"), col("nb"),
        (col("sa").cast("double") / col("na")).as("mean_a"),
        (col("sb").cast("double") / col("nb")).as("mean_b"),
        // n = 1 guard (r11 ADVICE): (s2 - s^2/1)/0 is NaN in Spark but
        // engine-divergent in DuckDB — NULL the undefined variance
        // explicitly on both engines (the n_lincoln m=0 fix pattern)
        when(col("na") > 1,
          (col("saa").cast("double") - col("sa").cast("double") * col("sa").cast("double")
            / col("na")) / (col("na") - 1)).otherwise(lit(null)).as("var_a"),
        when(col("nb") > 1,
          (col("sbb").cast("double") - col("sb").cast("double") * col("sb").cast("double")
            / col("nb")) / (col("nb") - 1)).otherwise(lit(null)).as("var_b"))
  }

  /** The risk set of the time from each customer's first order to the
    * second (`t`, in days; censored at the last order date when there is
    * no second order): per distinct `t` with at least one second order,
    * those orders `d_events` and the customers still at risk `n_risk`. The
    * cumulative window runs over distinct gap-days, which the calendar
    * bounds. `OracleSql.secondOrderRiskSet` is its replay.
    */
  def secondOrderRiskSet(orders: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"))
    val f = o.groupBy("o_custkey").agg(min("d").as("fd"))
    val s2 = o.join(f, Seq("o_custkey")).filter(col("d") > col("fd"))
      .groupBy("o_custkey").agg(min("d").as("sd"))
    val maxd = o.agg(max("d").as("maxd"))
    val subj = f.join(s2, Seq("o_custkey"), "left").crossJoin(broadcast(maxd))
      .select(
        when(col("sd").isNotNull, datediff(col("sd"), col("fd")))
          .otherwise(datediff(col("maxd"), col("fd"))).cast("long").as("t"),
        col("sd").isNotNull.cast("long").as("ev"))
    val byT = subj.groupBy("t").agg(count(lit(1)).as("a"), sum("ev").as("d_events"))
    val nn = byT.agg(sum("a").as("nn"))
    byT.crossJoin(broadcast(nn))
      .withColumn("cuma", sum("a").over(Window.orderBy("t")))
      .select(col("t"), col("d_events"),
        (col("nn") - col("cuma") + col("a")).as("n_risk"))
      .filter(col("d_events") > 0)
  }

  /** Per-nation tests of the share `k / n` of a nation's orders dated on or
    * after 1999-01-01 against the pooled share, ranked by p-value. `lnp`
    * (here `ilnp`) is the log of the two-sided Hoeffding bound
    * `2·exp(−2n·d²)`; a nation's `<rank>` is one plus the number of nations
    * with a smaller `lnp` (ties by nation key). Returns `ink`, `n`, `k`,
    * `m` (the number of nations), `ilnp` and `<rank>`.
    * `OracleSql.nationRateTests` replays the tests.
    */
  def nationRateRanks(orders: DataFrame, customer: DataFrame, rank: String): DataFrame = {
    val per = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderdate") >= "1999-01-01", 1L).otherwise(0L)).as("k"))
    val g = per.agg(sum("n").cast("double").as("tn"),
      sum("k").cast("double").as("tk"), count(lit(1)).as("m"))
    val d = col("k").cast("double") / col("n") - col("tk") / col("tn")
    val st = per.crossJoin(g)
      .select(col("nk"), col("n"), col("k"), col("m"),
        (lit(0.6931471805599453) - lit(2.0) * col("n") * d * d).as("lnp"))
    val i = st.select(col("nk").as("ink"), col("n"), col("k"),
      col("m"), col("lnp").as("ilnp"))
    val j = st.select(col("nk").as("jnk"), col("lnp").as("jlnp"))
    i.join(j,
        col("jlnp") < col("ilnp") ||
          (col("jlnp") === col("ilnp") && col("jnk") < col("ink")), "left")
      .groupBy(col("ink"), col("n"), col("k"), col("m"), col("ilnp"))
      .agg((count(col("jnk")) + 1L).as(rank))
  }

  /** The self-verifying contract of an approximate top-k `ann`
    * (`query_id`, `neighbor_id`) of `queries` over `corpus`, as
    * (`metric`, `value`) rows: `queries_answered` counts the queries it
    * answers, and `off_top20_within_tolerance` is 1 when at most a fifth
    * of its hits fall outside the exact top 20. `OracleSql.annTolerance`
    * is its replay for the queries `vec_id < 8`.
    */
  def annToleranceRows(ann: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val truth = Similarity.bruteForceTopK(corpus, queries, k = 20)
      .select(col("query_id"), col("neighbor_id"))
    val answered = ann
      .agg(countDistinct(col("query_id")).as("value"))
      .select(lit("queries_answered").as("metric"), col("value").cast("long").as("value"))
    val offRanking = ann.join(truth, Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("off"))
      .crossJoin(ann.agg(count(lit(1)).as("total")))
      .select(lit("off_top20_within_tolerance").as("metric"),
        (col("off") * 5 <= col("total")).cast("long").as("value"))
    answered.unionAll(offRanking)
  }

  /** Order revenue `y` per nation `nk` and month `m` (year · 12 + month),
    * summed exactly with `AnalyticsQueries.moneySum`.
    * `OracleSql.nationMonthlyRevenue` is its replay.
    */
  def nationMonthlyRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
      .agg(AnalyticsQueries.moneySum(col("o_totalprice")).as("y"))

  /** KMV theta sketches (k = 64) of the distinct (user, day) elements per
    * event type `t`: returns the elements (`t`, `elem`), the sketches
    * (`t`, `h`, `rn`: the 64 smallest 48-bit md5 hashes), each type's
    * `theta` (the 64th hash) and its distinct-count estimate `est`. The
    * elements and the sketches are eager-persisted.
    * `OracleSql.thetaHashes` replays the hashing.
    */
  def thetaSketches(events: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val elems = events.select(col("event_type").as("t"),
        (col("user_id") * 1000 +
          datediff(to_date(col("ts")), lit("2024-01-01")).cast("long")).as("elem"))
      .distinct()
      .eagerPersisted
    val hashed = elems.select(col("t"),
      conv(substring(md5(col("elem").cast("string")), 1, 12), 16, 10)
        .cast("long").as("h")).distinct()
    val w = Window.partitionBy("t").orderBy("h")
    val sk = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 64)
      .eagerPersisted
    val theta = sk.filter(col("rn") === 64).select(col("t"), col("h").as("theta"))
    val est = theta.select(col("t"), expr("63 * 281474976710656 div theta").as("est"))
    (elems, sk, theta, est)
  }

  /** Friedman rank sums of order priorities over month blocks: revenue `y`
    * per month `b` and priority `trt`, ranked within each month that has
    * all five priorities. Ties take the doubled average rank
    * `r2 = 2·min_rank + ties − 1`, which keeps them integral. Returns
    * `trt`, `rank2_sum` and `n_blocks`; `OracleSql.priorityBlockRanks`
    * replays the ranking.
    */
  def priorityRankSums(orders: DataFrame): DataFrame = {
    val cells = orders
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("b"),
        col("o_orderpriority").as("trt"))
      .agg(AnalyticsQueries.moneySum(col("o_totalprice")).as("y"))
    val complete = cells.groupBy("b").agg(count(lit(1)).as("kk"))
      .filter(col("kk") === 5).select("b")
    val ranked = cells.join(complete, Seq("b"))
      .withColumn("mr", rank().over(Window.partitionBy("b").orderBy("y")))
      .withColumn("ties", count(lit(1)).over(Window.partitionBy("b", "y")))
      .select(col("b"), col("trt"),
        (lit(2) * col("mr") + col("ties") - 1).cast("long").as("r2"))
    ranked.groupBy("trt")
      .agg(sum("r2").as("rank2_sum"), count(lit(1)).as("n_blocks"))
  }
}
