package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{Format, PartitionerKind, SinkConfig}

/** Object-key partitioners — the output-routing ("group by") layer.
  *
  * Mirrors `src/connector/sink/s3.rs:138-177`:
  *  - P2 default: `{prefix}/{topic}/{partition}_{timestamp}.{ext}` (`s3.rs:138-148`,
  *    golden expectation `prefix/test-topic/0_1234567890.json`, `s3.rs:836`)
  *  - P3 field: partition by a field extracted from the value JSON — a stub in
  *    the reference (`s3.rs:149-160`), implemented for real here
  *  - P4 time: Hive-style `year=YYYY/month=MM/day=DD/hour=HH` derived from the
  *    record timestamp in UTC (`s3.rs:161-177`)
  *  - P5 group-by (topic, partition) before flush (`s3.rs:614-633`)
  *
  * All derivations are pure columns; at scale they ride inside the write
  * stage's projection and feed `partitionBy`, so routing costs one shuffle
  * at most (and zero when the incoming partitioning already matches).
  */
object OutputPartitioners {

  /** Epoch millis of the record timestamp (the reference keys objects by the
    * raw millis value).
    */
  private def epochMillis(ts: Column): Column = (unix_micros(ts) / 1000).cast("long")

  /** P2: the default object key, from a single record's columns. */
  def defaultKey(prefix: String, ext: String): Column = {
    val p = if (prefix.nonEmpty) concat(lit(prefix), lit("/")) else lit("")
    concat(p, col("topic"), lit("/"), col("partition").cast("string"),
      lit("_"), epochMillis(col("timestamp")).cast("string"), lit("."), lit(ext))
  }

  /** P4: Hive time-partition columns (UTC; session timezone must be UTC,
    * which the engine's SparkSession builder enforces).
    */
  def timePartitionColumns(ts: Column): Seq[(String, Column)] = Seq(
    "year" -> year(ts),
    "month" -> format_string("%02d", month(ts)),
    "day" -> format_string("%02d", dayofmonth(ts)),
    "hour" -> format_string("%02d", hour(ts))
  )

  /** P4 as a transform: appends year/month/day/hour columns, in that
    * order, in one projection (each `withColumn` would re-run analysis).
    */
  def withTimePartitions(records: DataFrame): DataFrame =
    records.withColumns(ListMap(timePartitionColumns(col("timestamp")): _*))

  /** P3: extract the partition field from the value JSON (null when the value
    * isn't JSON or lacks the field). Reference intent per
    * `proto/connector.proto:206-207`.
    */
  def fieldPartitionColumn(field: String): Column =
    get_json_object(col("value").cast("string"), s"$$.$field")

  /** The `partitionBy` column names for a sink config, after the relevant
    * derivation columns have been added to the frame.
    */
  def partitionByColumns(cfg: SinkConfig): Seq[String] = cfg.partitioner match {
    case PartitionerKind.Default => Seq("topic", "partition")
    case PartitionerKind.Field => Seq("topic", "partition_value")
    case PartitionerKind.Time => Seq("topic", "year", "month", "day", "hour")
  }

  /** Apply the derivation columns a partitioner needs. */
  def applyPartitioner(records: DataFrame, cfg: SinkConfig): DataFrame =
    cfg.partitioner match {
      case PartitionerKind.Default => records
      case PartitionerKind.Field =>
        records.withColumn("partition_value", fieldPartitionColumn(cfg.partitionField))
      case PartitionerKind.Time => withTimePartitions(records)
    }
}
