package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession builder for the engine: UTC semantics, AQE with
  * skew handling, sized shuffle parallelism, and graft's native functions
  * registered. These are the settings the library is designed against; on a
  * real cluster only `master` and memory sizing change.
  */
object GraftSession {

  /** FQCN of Spark's RocksDB state store provider (shipped in spark-sql;
    * rocksdbjni is on the unmanaged classpath). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The `file:` filesystem every graft session runs on, on both Hadoop APIs:
    * `FileSystem` (Spark's writer and output committer) and `FileContext`
    * (the streaming checkpoint manager). Spark's Hadoop jars ship no native
    * `libhadoop`, so the stock `RawLocalFileSystem` forks `chmod` on every
    * `create` and `mkdirs` and `readlink` on every `getFileLinkStatus` — the
    * latter on a `file:/…` string, so it always fails and is pure waste. On
    * the push → parquet → ack path that was ~34 child processes per
    * micro-batch: 8 `readlink` + 2 `chmod` in each of the two checkpoint log
    * writes (offsets WAL, commit log) and ~13 `chmod` in the parquet write,
    * task/job commit and `_SUCCESS`, at 8–11 ms each on a 4-core VM.
    * [[graft.sinks.NioLocalFileSystem]] / [[graft.sinks.NioLocalFs]] do the
    * same work through `java.nio.file`; bytes, permission bits, `.crc` files
    * and rename semantics are unchanged.
    *
    * Caveat: `FileSystem.CACHE` is keyed by scheme and user, not by conf, so
    * a `file:` `FileSystem` that code in this JVM opened before the session
    * keeps the stock class (`FileContext` is uncached and always takes the
    * override). Clearing that cache is process-global state a library must
    * not touch, so it is left alone. The other direction holds too: once a
    * graft session opens `file:`, every later `FileSystem.get(file:)` in the
    * JVM, from any SparkSession or plain Hadoop code, shares the cached
    * [[graft.sinks.NioLocalFileSystem]]. That is acceptable only because it
    * behaves as stock does, down to the permission bits (setuid, setgid and
    * sticky included); `LocalFsSpec` holds it to that.
    */
  val localFsConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[sinks.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[sinks.NioLocalFs].getName)

  def builder(master: String = "local[32]",
              shufflePartitions: Int = 32,
              stateStore: String = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs"))
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .config(localFsConf.toMap)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // AQE: runtime coalescing + skew-join splitting; free insurance at
      // scale, harmless locally
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // dimension tables in this engine are small; let them broadcast
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // floor on SCAN parallelism (guide §6): byte-sized splitting gives a
      // small input one split, which then runs every downstream
      // compute-bound pass (codec UDFs, explodes, quadratic verify joins)
      // on one task. Derived from the session's parallelism, never a
      // literal; at real scale scans have far more splits than this floor
      // and it is a no-op, while maxPartitionBytes still governs the
      // ceiling.
      .config("spark.sql.files.minPartitionNum", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      // bound plan stringification: AQE re-renders the whole plan on every
      // stage update (AdaptiveSparkPlanExec.onUpdatePlan → explainString),
      // and the iterative operators here (CC, PageRank, wedge joins) carry
      // deliberately deep lineage — unbounded rendering turns into real
      // driver seconds per query on exactly the plans that matter at
      // 100 TB. 256 KiB keeps explain() useful and plan-shape tests intact.
      .config("spark.sql.maxPlanStringLength", (256 << 10).toString)
    // Stateful-streaming state store, config-gated (SPARK_GRAFT_STATE_STORE
    // or the `stateStore` param): the default HDFS-backed provider keeps
    // EVERY key's state on the executor heap — fine at fixture scale,
    // memory-bound at 100 TB keyed state (latestByKey/CDC compaction over
    // billions of keys). "rocksdb" switches to Spark's RocksDB provider:
    // state lives off-heap/on-disk per partition, and changelog
    // checkpointing uploads per-batch deltas instead of full snapshots —
    // the production setting for large keyed state. The provider class is
    // pinned into the checkpoint at first query start, so flipping it
    // requires a fresh checkpoint (Spark semantics, not ours).
    if (stateStore.equalsIgnoreCase("rocksdb"))
      b.config("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    else b
  }

  def getOrCreate(master: String = "local[32]",
                  shufflePartitions: Int = 32,
                  quietAcceptedWarnings: Boolean = false): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    // Silence WindowExec's "No Partition Defined" WARN (class-scoped, not
    // global): the 7 documented calendar-grain entries (CatalogContractSpec's
    // accepted unpartitioned-window set — inputs bounded by the calendar,
    // not the corpus) each emit it per execution, hundreds of repeats per
    // bench/verify run burying real warnings in the one stdout the driver
    // parses. The PLAN gate stays: any undocumented unpartitioned window
    // still fails CI — this only quiets the log line for the accepted class.
    // OPT-IN (r13 ADVICE): only the bench/verify/audit drivers pass true —
    // a user session keeps the warning for its own unpartitioned windows,
    // which the CI plan gate never sees. Guarded: the Configurator call
    // hard-depends on log4j-core being the logging backend; a different
    // slf4j binding must not fail session creation.
    if (quietAcceptedWarnings)
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      // NoClassDefFoundError (a non-log4j-core slf4j binding) is the
      // expected miss — LinkageError covers it; NonFatal covers config
      // errors. Fatal errors (OOM, interrupt) must still propagate.
      catch { case scala.util.control.NonFatal(_) | (_: LinkageError) => () }
    functions.GraftFunctions.register(spark)
    // bounded-heap top-k replaces Exchange→Sort→Window→Filter for the
    // row_number()<=k idiom (k-capped; see plans/TopKPerGroup.scala)
    spark.experimental.extraStrategies = Seq(plans.TopKPerGroupStrategy())
    // thresholded levenshtein predicates run the banded kernel
    // (plans/RewriteRules.scala)
    spark.experimental.extraOptimizations = Seq(plans.BoundedLevenshteinRewrite)
    spark
  }
}
