package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.model.{Format, KafkaRecord, PartitionerKind, SinkConfig}
import graft.sinks.FileSink

/** K1–K5: the file sink writes real files with the configured format and
  * partitioner layout (Hive time partitions = the reference's P4 layout).
  */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-sink").toString

  private val recs = Seq(
    KafkaRecord("t1", 0, 0, new Timestamp(1234567890000L), "k0".getBytes,
      """{"id":1}""".getBytes, Map("h" -> "v")),
    KafkaRecord("t1", 0, 1, new Timestamp(1234567890000L), "k1".getBytes,
      "plain".getBytes, Map.empty),
    KafkaRecord("t1", 1, 2, new Timestamp(1240000000000L), "k2".getBytes,
      """{"id":3}""".getBytes, Map.empty)
  )

  test("json + time partitioner writes Hive year=/month=/day=/hour= layout") {
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", prefix = "out",
      format = Format.Json, partitioner = PartitionerKind.Time)
    FileSink.writeBatch(recs.toDF(), cfg, root)
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".json")).map(_.toString).toList
    assert(files.nonEmpty)
    assert(files.forall(_.contains("/out/topic=t1/year=2009/")))
    assert(files.exists(_.contains("month=02/day=13/hour=23")))
    // content round-trip: the written JSON has the F2 projection fields
    val back = spark.read.json(s"$root/out")
    assert(back.count() == 3)
    assert(back.columns.contains("value_out") && back.columns.contains("value_format"))
  }

  test("parquet + default partitioner writes topic=/partition= layout") {
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Default)
    FileSink.writeBatch(recs.toDF(), cfg, root)
    val back = spark.read.parquet(root)
    assert(back.count() == 3)
    assert(back.select("partition").distinct().count() == 2)
  }

  test("field partitioner extracts the configured value field for routing") {
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Field, partitionField = "id")
    FileSink.writeBatch(recs.toDF(), cfg, root)
    val dirs = Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(dirs.contains("topic=t1"))
    val sub = Files.list(Paths.get(root, "topic=t1")).iterator().asScala
      .map(_.getFileName.toString).toSet
    // id=1, id=3 from JSON values; non-JSON value routes to the null partition
    assert(sub.exists(_.startsWith("partition_value=1")))
    assert(sub.exists(_.startsWith("partition_value=3")))
  }

  test("time partitioner clusters the write: one file per partition value") {
    // r14 verdict item 1: without the clustering exchange, the dynamic
    // partition insert writes one file per TASK per partition value —
    // tasks×partitions small files (millions at 100 TB hourly grain).
    // The Time partitioner now repartitions on the partition columns by
    // default, so each value lands in exactly one task → one file.
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    // spread same-hour rows across 3 input tasks to make the un-clustered
    // shape produce >1 file per value
    FileSink.writeBatch(recs.toDF().repartition(3), cfg, root)
    val files = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toList
    // recs span exactly 2 distinct (topic, year, month, day, hour) values
    assert(files.size == 2,
      s"expected one file per partition value, got ${files.size}: $files")
    assert(spark.read.parquet(root).count() == 3)
  }

  /** Runs `body` and returns what it ran: the number of Spark jobs it
    * started and the executed plans of its SQL executions. A marker job
    * after `body` flushes the listener bus: events reach listeners in
    * order, so once the marker's start is seen, every event of `body` is.
    */
  private def observed(body: => Unit): (Int, Seq[SparkPlan]) = {
    val group = s"sinkspec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-marker" => markerSeen.countDown()
          case _ => ()
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      sc.setJobGroup(group, "observed")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (jobs.get, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }

  /** Every node of a plan, through adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def parquetFiles(root: String): List[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toList

  test("a one-partition time-partitioned batch commits in one job, with no exchange") {
    // the push batch's shape: an RDD scan of one partition, two hours in it
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    val input = spark.sparkContext.parallelize(recs, 1).toDF()
    val (jobs, plans) = observed(FileSink.writeBatch(input, cfg, root))
    val writes = plans.filter(_.treeString.contains(root))
    assert(writes.size == 1, s"one write execution expected: $plans")
    assert(!nodes(writes.head).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"a one-partition input must not be shuffled:\n${writes.head}")
    assert(jobs == 1, s"$jobs Spark jobs for one one-partition write")
    // one task wrote every partition value, so still one file per value
    assert(parquetFiles(root).size == 2)
    assert(spark.read.parquet(root).count() == 3)
  }

  test("a multi-partition time-partitioned batch still plans the clustering exchange") {
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    // no exchange of its own: the partition count decides
    val input = spark.sparkContext.parallelize(recs, 3).toDF()
    val (_, plans) = observed(FileSink.writeBatch(input, cfg, root))
    val writes = plans.filter(_.treeString.contains(root))
    assert(writes.size == 1, s"one write execution expected: $plans")
    assert(nodes(writes.head).exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"a 3-partition input must be clustered:\n${writes.head}")
    assert(parquetFiles(root).size == 2)
  }

  test("the one-partition check runs no job and answers false where it cannot know") {
    val one = spark.sparkContext.parallelize(recs, 1).toDF()
    val (jobs, _) = observed {
      assert(FileSink.arrivesInOnePartition(one))
      assert(FileSink.arrivesInOnePartition(one.filter($"offset" > 0)))
      assert(FileSink.arrivesInOnePartition(spark.sparkContext.emptyRDD[KafkaRecord].toDF()))
      assert(!FileSink.arrivesInOnePartition(spark.sparkContext.parallelize(recs, 3).toDF()))
      // an exchange (under AQE) would need a job to count, also behind a cache
      assert(!FileSink.arrivesInOnePartition(recs.toDF().repartition(1)))
      val cachedShuffle = recs.toDF().repartition(1).cache()
      val cachedScan = spark.sparkContext.parallelize(recs, 1).toDF().cache()
      try {
        assert(!FileSink.arrivesInOnePartition(cachedShuffle.select("*")))
        assert(FileSink.arrivesInOnePartition(cachedScan.select("*")))
      } finally { cachedShuffle.unpersist(); cachedScan.unpersist() }
    }
    assert(jobs == 0, s"the check ran $jobs Spark jobs")
  }

  test("withTimePartitions equals the four-withColumn fold in one projection") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import graft.operators.OutputPartitioners
    def fold(df: org.apache.spark.sql.DataFrame) =
      OutputPartitioners.timePartitionColumns(col("timestamp")).foldLeft(df) {
        case (d, (name, c)) => d.withColumn(name, c)
      }
    // a plain input, and one whose existing "hour" column is replaced in place
    for (input <- Seq(recs.toDF(), recs.toDF().withColumn("hour", lit("x")))) {
      val one = OutputPartitioners.withTimePartitions(input)
      val expected = fold(input)
      assert(one.schema == expected.schema)
      assert(one.collect().toSeq == expected.collect().toSeq)
      val projects = one.queryExecution.analyzed.collect { case p: Project => p }.size -
        input.queryExecution.analyzed.collect { case p: Project => p }.size
      assert(projects == 1, s"$projects projections for the hour columns")
    }
  }

  test("registerPartitioned quotes the DDL: quoted path, odd name, bad format") {
    // r14 verdict nit: name/path used to interpolate unquoted into the
    // CREATE TABLE statement — a path with an apostrophe broke the DDL
    import graft.sinks.Tables
    val root = tmp()
    val dir = s"$root/p7's data"
    val cfg = SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time)
    FileSink.writeBatch(recs.toDF(), cfg, dir)
    // the backticked identifier also keeps a reserved-word name working
    // (the session catalog itself rejects non-alphanumeric names)
    Tables.registerPartitioned(spark, "table", dir)
    assert(spark.table("`table`").count() == 3)
    // the USING clause can't be quoted — allowlist identifier characters
    assertThrows[IllegalArgumentException](
      Tables.registerPartitioned(spark, "t2", dir, format = "parquet; DROP TABLE t"))
  }

  test("bytes format writes one concatenated object per (topic,partition)") {
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Bytes)
    FileSink.writeBatch(recs.toDF(), cfg, root)
    val p0 = Paths.get(root, "t1", "0_0.bin")
    assert(Files.exists(p0))
    val content = new String(Files.readAllBytes(p0), "UTF-8")
    assert(content == """{"id":1}plain""") // offset order concatenation
    assert(Files.exists(Paths.get(root, "t1", "1_2.bin")))
  }

  test("s3a hadoop conf maps endpoint/credentials like the reference MinIO path") {
    val cfg = SinkConfig(bucketName = "b", endpoint = Some("http://minio:9000"),
      accessKey = Some("ak"), secretKey = Some("sk"), region = "eu-west-1")
    val conf = FileSink.s3aHadoopConf(cfg)
    assert(conf("fs.s3a.endpoint") == "http://minio:9000")
    assert(conf("fs.s3a.path.style.access") == "true")
    assert(conf("fs.s3a.access.key") == "ak")
    assert(conf("fs.s3a.endpoint.region") == "eu-west-1")
  }

  test("avro format writes readable Avro container files per (topic,partition)") {
    import graft.sinks.AvroSink
    import org.apache.hadoop.fs.Path
    val root = tmp()
    val cfg = SinkConfig(bucketName = "b", format = Format.Avro)
    FileSink.writeBatch(recs.toDF(), cfg, root)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p0 = new Path(root, "t1/0_0.avro")
    assert(fs.exists(p0))
    val back = AvroSink.readFile(fs, p0)
    assert(back.length == 2)
    assert(back.head.get("topic").toString == "t1")
    assert(back.head.get("offset") == 0L)
    val valueBytes = back.head.get("value").asInstanceOf[java.nio.ByteBuffer]
    val arr = new Array[Byte](valueBytes.remaining()); valueBytes.get(arr)
    assert(new String(arr, "UTF-8") == """{"id":1}""")
    assert(fs.exists(new Path(root, "t1/1_2.avro")))
  }

  test("routed avro slice rides the avro-core fallback and replays idempotently") {
    // the r13 ADVICE failure case: a `table:avro` route used to bypass
    // FileSink.writeBatch and throw where spark-avro is absent; it now
    // rides the avro-core fallback inside the batchId-staged publish
    import graft.streaming.Pipeline
    import graft.model.TableRoute
    import graft.sinks.AvroSink
    import org.apache.hadoop.fs.Path
    val root = tmp()
    val sink = SinkConfig(bucketName = "b", prefix = "default")
    val route = TableRoute("t1", "t1_avro", Format.Avro)
    val slice = recs.toDF().filter(org.apache.spark.sql.functions.col("topic") === "t1")
    Pipeline.writeRoutedSlice(slice, sink, route, root, batchId = 0)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = new Path(root, "t1_avro/batch=0/t1/0_0.avro")
    assert(fs.exists(published), "avro container must publish under batch=0")
    assert(AvroSink.readFile(fs, published).nonEmpty)
    def fileCount(p: Path): Int = {
      val it = fs.listFiles(p, true)
      var n = 0; while (it.hasNext) { it.next(); n += 1 }; n
    }
    val before = fileCount(new Path(root, "t1_avro"))
    // replaying the same (table, batchId) is a no-op, not a duplicate
    Pipeline.writeRoutedSlice(slice, sink, route, root, batchId = 0)
    assert(fileCount(new Path(root, "t1_avro")) == before)
    // a NEW batch id publishes beside it
    Pipeline.writeRoutedSlice(slice, sink, route, root, batchId = 1)
    assert(fs.exists(new Path(root, "t1_avro/batch=1")))
  }

  test("table sink routes to the documented fallback when Iceberg is absent") {
    import graft.sinks.Tables
    // decision record: no iceberg-spark runtime ships offline, and the
    // boundary must say so rather than pretend
    assert(!Tables.icebergAvailable)
    val root = tmp()
    val route = Tables.writeTable(recs.toDF(), "cat.db.t", s"$root/t")
    assert(route == "parquet-manifest")
    assert(spark.read.parquet(s"$root/t").count() == recs.length)
  }
}
