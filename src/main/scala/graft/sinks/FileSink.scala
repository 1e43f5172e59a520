package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.model.{Compression, Format, PartitionerKind, SinkConfig}
import graft.operators.{Encode, OutputPartitioners}

/** The file/object-store sink — K1–K5 of the operator inventory.
  *
  * The reference buffers records and flushes one S3 object per
  * (topic, partition) group (`src/connector/sink/s3.rs:522-699`). In Spark the
  * micro-batch is the flush unit and the writer commits files atomically per
  * task — strictly stronger delivery than the reference's commit-before-flush
  * regime (`kafka.rs:265` vs `s3.rs:544-575`; divergence documented in
  * SURVEY §7.4.2). Paths are plain Hadoop FS URIs, so `s3a://bucket/prefix`
  * targets S3 in production and `file:/...` in tests; S3 credentials/endpoint
  * from the config map onto `fs.s3a.*` via [[s3aHadoopConf]].
  *
  * Scale design: the write is a single narrow stage on top of whatever
  * partitioning the plan already has; `partitionBy` uses Spark's dynamic
  * partition insert (one file per task per partition value). For
  * high-cardinality time partitions that is tasks×partition-values small
  * files — millions of objects on a 100 TB hourly write — so a
  * `repartition(partitionCols)` before the write collapses the file count
  * to one per partition value. The Time partitioner gets this clustering
  * exchange by DEFAULT (its hour grain is always high-cardinality);
  * `coalescePartitions` opts any other partitioner in. The exchange is
  * left out when the input arrives in at most one partition
  * ([[arrivesInOnePartition]]): one task then already writes one file per
  * partition value, and the exchange would only add a shuffle-map job, an
  * AQE re-plan and a wave of mostly empty write tasks — most of a small
  * micro-batch's commit (a one-partition push batch on the ack path).
  * Trade-off: such an input that spans many hours writes all of them on
  * that one task. The push source plans a single partition only below
  * 2,000 records and the gRPC push service one per pushed batch, so only
  * an unusually shaped one-partition source sees it.
  */
object FileSink {

  /** Whether the spark-avro DataSource is loadable in this JVM. */
  lazy val avroDataSourceAvailable: Boolean =
    try {
      org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
        "avro", org.apache.spark.sql.internal.SQLConf.get)
      true
    } catch { case _: Throwable => false }

  /** hadoop conf entries for an S3-compatible endpoint (MinIO etc.),
    * mirroring `s3.rs:417-450`.
    */
  def s3aHadoopConf(cfg: SinkConfig): Map[String, String] =
    Map("fs.s3a.endpoint.region" -> cfg.region) ++
      cfg.endpoint.map(e => Map(
        "fs.s3a.endpoint" -> e,
        "fs.s3a.path.style.access" -> "true")).getOrElse(Map.empty) ++
      cfg.accessKey.map("fs.s3a.access.key" -> _) ++
      cfg.secretKey.map("fs.s3a.secret.key" -> _)

  /** Root output path for a sink config ("bucket" is any FS scheme root in
    * tests, an s3a bucket in production).
    */
  def outputPath(cfg: SinkConfig, root: String): String =
    if (cfg.prefix.nonEmpty) s"$root/${cfg.prefix}" else root

  /** K3: write one batch of KafkaRecord rows. Applies the configured
    * partitioner's derivation columns, the F2 projection for JSON output,
    * and dispatches on format. Returns the written path.
    */
  def writeBatch(records: DataFrame, cfg: SinkConfig, root: String,
                 coalescePartitions: Boolean = false): String = {
    val path = outputPath(cfg, root)
    val partCols = OutputPartitioners.partitionByColumns(cfg)
    val derived = OutputPartitioners.applyPartitioner(records, cfg)

    cfg.format match {
      case Format.Bytes => writeBytesObjects(derived, cfg, path)
      case Format.Avro if !avroDataSourceAvailable =>
        // spark-avro not on the classpath (this environment): write real
        // Avro container files via avro-core instead
        AvroSink.writeAvroObjects(derived, path)
      case fmt =>
        val projected = fmt match {
          // F2 JSON-lines projection, partition-derivation columns carried through
          case Format.Json => Encode.jsonLinesWithDerived(derived)
          case _ => derived
        }
        val distributed =
          if ((coalescePartitions || cfg.partitioner == PartitionerKind.Time)
              && partCols.nonEmpty && !arrivesInOnePartition(records))
            // explicit width (the session's configured shuffle parallelism,
            // scale-set by conf, never a literal): with the width left
            // implicit, AQE's BYTE-based coalescing shrinks this exchange to
            // a handful of tasks — the right call for compute stages, the
            // wrong one for a dynamic-partition write whose cost is per-FILE
            // open/commit overhead (one file per partition value regardless
            // of task count), which coalescing serializes onto those few
            // tasks. Hash still maps each partition value to exactly one
            // task, so the one-file-per-partition contract (SinkSpec) holds
            // at any width. r15: p7's write stage ran as 3 AQE-coalesced
            // tasks × ~240 files each, 12.5 task-seconds serialized.
            projected.repartition(
              projected.sparkSession.sessionState.conf.numShufflePartitions,
              partCols.map(col).toIndexedSeq: _*)
          else projected
        distributed.write
          .mode("append")
          .option("compression", cfg.compression.sparkCodec)
          .partitionBy(partCols: _*)
          .format(fmt.name)
          .save(path)
        path
    }
  }

  /** Whether `records` arrives in at most one partition, decided without a
    * Spark job: its physical plan's RDD is built (inside `foreachBatch` that
    * plan scans the micro-batch's RDD, already built) but not run. A plan
    * whose RDD could only be built by running something — an exchange
    * (adaptive or not: a range exchange samples, a broadcast collects), a
    * subquery — answers false unbuilt, so those inputs keep the
    * clustering exchange.
    */
  private[graft] def arrivesInOnePartition(records: DataFrame): Boolean = {
    val plan = records.queryExecution.executedPlan
    !plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case p => p.subqueries.nonEmpty
    } && plan.execute().getNumPartitions <= 1
  }

  /** F4: the raw-bytes encoder — one object per (topic, partition) group,
    * values concatenated in offset order (`s3.rs:674-688`). No stock Spark
    * sink emits concatenated binary, so this is a custom per-partition
    * writer: records are hash-distributed by group, sorted by offset within
    * partitions, and each task streams its groups' bytes to
    * `{path}/{topic}/{partition}_{firstOffset}.bin` via the Hadoop FS API.
    * Scales: no driver collect, one pass, bytes never concatenated in memory.
    */
  def writeBytesObjects(records: DataFrame, cfg: SinkConfig, path: String): String = {
    import org.apache.spark.sql.Row
    val prepared = records
      .select(col("topic"), col("partition"), col("offset"), col("value"))
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions(col("topic"), col("partition"), col("offset"))
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      records.sparkSession.sparkContext.hadoopConfiguration)
    prepared.foreachPartition { (rows: Iterator[Row]) =>
      val fsConf = hadoopConf.value
      var fs: FileSystem = null
      var current: (String, Int) = null
      var out: org.apache.hadoop.fs.FSDataOutputStream = null
      rows.foreach { r =>
        val grp = (r.getString(0), r.getInt(1))
        if (grp != current) {
          if (out != null) out.close()
          val p = new Path(s"$path/${grp._1}/${grp._2}_${r.getLong(2)}.bin")
          if (fs == null) fs = p.getFileSystem(fsConf)
          fs.mkdirs(p.getParent)
          out = fs.create(p, true)
          current = grp
        }
        val v = r.get(3)
        if (v != null) out.write(v.asInstanceOf[Array[Byte]])
      }
      if (out != null) out.close()
    }
    path
  }
}
