package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Encode
import graft.sources.Sources

/** Oracle-checked queries covering the reference's pipeline operators
  * (SURVEY §2.1–§2.4). Each entry pairs an idiomatic-Spark implementation
  * with ANSI SQL the driver runs in DuckDB over the same parquet tables.
  *
  * Conventions shared with the oracles: all integer outputs are 64-bit
  * (BIGINT) so Spark and DuckDB schemas agree; record synthesis from the
  * `events` table is deterministic (topic "events", partition = user_id
  * mod 8, offset = event_id, key = user_id text, value = props JSON).
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  private def records(s: SparkSession, dir: String): DataFrame =
    Sources.eventsAsRecords(s, dir)
      .withColumn("ts_ms", expr("unix_micros(timestamp) div 1000"))

  /** Shared oracle-side record synthesis (DuckDB CTE). */
  private val recordsCte =
    """WITH records AS (
      |  SELECT 'events' AS topic,
      |         CAST(user_id % 8 AS BIGINT) AS partition,
      |         CAST(event_id AS BIGINT) AS "offset",
      |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
      |         CAST(user_id AS VARCHAR) AS record_key,
      |         props AS record_value
      |  FROM events
      |)""".stripMargin

  val defs: Map[String, (Q, Option[String])] = Map(

    // S1: the Kafka topic scan, batch analog over the events fixture.
    "s1_kafka_scan" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir).select(
          col("topic"), col("partition").cast("long").as("partition"),
          col("offset"), col("ts_ms"),
          col("key").cast("string").as("record_key"),
          col("value").cast("string").as("record_value")),
      Some(s"""$recordsCte SELECT topic, partition, "offset", ts_ms, record_key, record_value FROM records""")
    )),

    // F2: JSON-lines encoder — JSON sniff with base64 fallback + format tags.
    "f2_json_encode" -> ((
      (s: SparkSession, dir: String) => {
        Encode.withFormatTags(records(s, dir), "key", "value").select(
          col("topic"), col("partition").cast("long").as("partition"),
          col("offset"), col("ts_ms"),
          Encode.sniffedOut("key"), col("key_format"),
          Encode.sniffedOut("value"), col("value_format"))
      },
      Some(s"""$recordsCte
        |SELECT topic, partition, "offset", ts_ms,
        |  CASE WHEN length(record_key)=0 THEN NULL
        |       WHEN json_valid(record_key) THEN record_key
        |       ELSE to_base64(encode(record_key)) END AS key_out,
        |  CASE WHEN length(record_key)=0 THEN NULL
        |       WHEN json_valid(record_key) THEN 'json' ELSE 'base64' END AS key_format,
        |  CASE WHEN length(record_value)=0 THEN NULL
        |       WHEN json_valid(record_value) THEN record_value
        |       ELSE to_base64(encode(record_value)) END AS value_out,
        |  CASE WHEN length(record_value)=0 THEN NULL
        |       WHEN json_valid(record_value) THEN 'json' ELSE 'base64' END AS value_format
        |FROM records""".stripMargin)
    )),

    // F2 negative branch: non-JSON payloads (document text) → base64 + tag.
    "f2_base64_fallback" -> ((
      (s: SparkSession, dir: String) => {
        val docs = Sources.table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("value"))
        Encode.withFormatTags(docs, "value").select(
          col("doc_id"), Encode.sniffedOut("value"), col("value_format"))
      },
      Some("""SELECT doc_id,
        |  CASE WHEN length(text)=0 THEN NULL
        |       WHEN json_valid(text) THEN text
        |       ELSE to_base64(encode(text)) END AS value_out,
        |  CASE WHEN length(text)=0 THEN NULL
        |       WHEN json_valid(text) THEN 'json' ELSE 'base64' END AS value_format
        |FROM documents""".stripMargin)
    )),

    // Schema-drift report over the opaque JSON payloads: which keys occur,
    // how often, and in what fraction of records — the monitoring query a
    // schema-less ingestion pipeline runs to catch producers changing
    // their payload shape. Narrow explode + one hash aggregate.
    "f2_props_schema" -> ((
      (s: SparkSession, dir: String) => {
        val r = records(s, dir)
        val total = r.agg(count(lit(1)).as("total"))
        r.select(explode(json_object_keys(col("value").cast("string"))).as("key"))
          .groupBy("key").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .select(col("key"), col("cnt"),
            expr("CAST(cnt * 1000 AS BIGINT) div total").as("present_per_mille"))
      },
      Some(s"""$recordsCte, tot AS (SELECT count(*) AS total FROM records),
        |k AS (SELECT unnest(json_keys(record_value)) AS key FROM records)
        |SELECT key, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(count(*) AS BIGINT) * 1000 // total AS present_per_mille
        |FROM k, tot GROUP BY key, total""".stripMargin)
    )),

    // Encode→decode round trip across the whole events fixture: the
    // output equals the INPUT records (oracle = the raw records CTE), so
    // a hash match proves decode(encode(x)) == x — the sink format is a
    // lossless interchange format the engine can re-ingest.
    "f2_roundtrip" -> ((
      (s: SparkSession, dir: String) => {
        val enc = Encode.jsonLinesProjection(records(s, dir))
        Encode.fromJsonLinesProjection(enc)
          .select(col("topic"), col("partition").cast("long").as("partition"),
            col("offset"), expr("unix_micros(timestamp) div 1000").as("ts_ms"),
            col("key").cast("string").as("record_key"),
            col("value").cast("string").as("record_value"))
      },
      Some(s"""$recordsCte SELECT topic, partition, "offset", ts_ms, record_key, record_value FROM records""")
    )),

    // CSV container roundtrip: write the record relation as CSV (header,
    // default quoting — the JSON payload column carries commas, quotes and
    // braces, exactly what CSV escaping must survive), read it back with
    // an explicit schema, and aggregate. The oracle aggregates the
    // original relation directly, so any quoting/parsing corruption in
    // the Spark CSV writer+reader pair breaks the hash. Completes the
    // format surface beside JSON lines, Avro, parquet and raw bytes.
    "f7_csv_roundtrip" -> ((
      (s: SparkSession, dir: String) => {
        // per-JVM scratch path (shutdown-hook cleaned): concurrent JVMs
        // never race on it, session recycling inside one JVM reuses one
        // directory instead of leaking one per recycle block
        val out = graft.tools.TmpDirs.path("csv-roundtrip")
        records(s, dir)
          .select(col("topic"), col("partition").cast("long").as("partition"),
            col("offset"), col("ts_ms"), col("key").cast("string").as("record_key"),
            col("value").cast("string").as("record_value"))
          .write.mode("overwrite").option("header", "true").csv(out)
        s.read.option("header", "true")
          .schema("topic STRING, partition BIGINT, offset BIGINT, ts_ms BIGINT, " +
            "record_key STRING, record_value STRING")
          .csv(out)
          .groupBy("partition")
          .agg(count(lit(1)).as("cnt"), sum("offset").as("sum_offset"),
            sum(length(col("record_value"))).as("value_chars"))
      },
      Some(s"""$recordsCte
        |SELECT partition, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum("offset") AS BIGINT) AS sum_offset,
        |  CAST(sum(length(record_value)) AS BIGINT) AS value_chars
        |FROM records GROUP BY partition""".stripMargin)
    )),

    // ORC container roundtrip — the remaining columnar interchange format
    // beside parquet/Avro/CSV/JSON-lines (Hive shops hand ORC to a
    // training pipeline as readily as parquet): write the record relation
    // as ORC (zlib default), read it back, aggregate. ORC stores its own
    // schema, so unlike CSV no re-parse schema is injected — a type
    // mangled by the writer surfaces as a changed aggregate, not a read
    // error. Oracle aggregates the original relation (roundtrip
    // identity).
    "f8_orc_roundtrip" -> ((
      (s: SparkSession, dir: String) => {
        // per-JVM scratch path (shutdown-hook cleaned) — concurrent JVMs
        // never race on it, recycled sessions reuse one directory
        val out = graft.tools.TmpDirs.path("orc-roundtrip")
        records(s, dir)
          .select(col("topic"), col("partition").cast("long").as("partition"),
            col("offset"), col("ts_ms"), col("key").cast("string").as("record_key"),
            col("value").cast("string").as("record_value"))
          .write.mode("overwrite").orc(out)
        s.read.orc(out)
          .groupBy("topic")
          .agg(count(lit(1)).as("cnt"), sum("offset").as("sum_offset"),
            sum("ts_ms").as("sum_ts"),
            sum(length(col("record_key"))).as("key_chars"),
            sum(length(col("record_value"))).as("value_chars"))
      },
      Some(s"""$recordsCte
        |SELECT topic, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum("offset") AS BIGINT) AS sum_offset,
        |  CAST(sum(ts_ms) AS BIGINT) AS sum_ts,
        |  CAST(sum(length(record_key)) AS BIGINT) AS key_chars,
        |  CAST(sum(length(record_value)) AS BIGINT) AS value_chars
        |FROM records GROUP BY topic""".stripMargin)
    )),

    // Variant-typed querying inside schema-less values (Spark 4's home for
    // the reference's opaque JSON payloads, SURVEY §1.2): parse once, then
    // typed extraction — aggregate the `k` field per partition.
    "f2_variant_json" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .select(col("partition").cast("long").as("partition"),
            try_variant_get(parse_json(col("value").cast("string")), "$.k", "long").as("k"))
          .groupBy("partition")
          .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
            min("k").as("min_k"), max("k").as("max_k")),
      Some(s"""$recordsCte
        |SELECT partition, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(json_extract_string(record_value, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(record_value, '$$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(record_value, '$$.k') AS BIGINT)) AS max_k
        |FROM records GROUP BY partition""".stripMargin)
    )),

    // The streaming windowed-stats transform (StreamOps.windowedTopicStats)
    // run in batch mode — same plan, checked against SQL time_bucket.
    // (approx_count_distinct excluded: sketch results aren't cross-engine.)
    "stream_window_stats" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .groupBy(window(col("timestamp"), "1 hour"), col("topic"))
          .agg(count(lit(1)).as("record_cnt"),
            sum(length(col("value"))).as("value_bytes"))
          .select(expr("unix_micros(window.start) div 1000").as("window_start_ms"),
            col("topic"), col("record_cnt"), col("value_bytes")),
      Some(s"""$recordsCte
        |SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts_ms_ts AS TIMESTAMP))) AS window_start_ms,
        |       topic, CAST(count(*) AS BIGINT) AS record_cnt,
        |       CAST(sum(length(record_value)) AS BIGINT) AS value_bytes
        |FROM (SELECT *, epoch_ms(ts_ms) AS ts_ms_ts FROM records)
        |GROUP BY 1, 2""".stripMargin)
    )),

    // Sliding (hopping) windows — 1 h windows every 30 min, so each record
    // lands in exactly 2 windows. The oracle replays Spark's window
    // arithmetic in epoch-microseconds (hop-aligned starts, i ∈ {0,1}) —
    // microseconds, not the CTE's ms, because a sub-ms remainder at a
    // bucket boundary would shift the floor.
    "stream_sliding_stats" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .groupBy(window(col("timestamp"), "1 hour", "30 minutes"), col("topic"))
          .agg(count(lit(1)).as("record_cnt"),
            sum(length(col("value"))).as("value_bytes"))
          .select(expr("unix_micros(window.start) div 1000").as("window_start_ms"),
            col("topic"), col("record_cnt"), col("value_bytes")),
      Some("""WITH r AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
        |             length(props) AS vlen FROM events),
        |x AS (SELECT ((t_us // 1800000000) - CAST(i AS BIGINT)) * 1800000000 AS start_us, vlen
        |      FROM r, unnest([0, 1]) AS u(i))
        |SELECT CAST(start_us // 1000 AS BIGINT) AS window_start_ms, 'events' AS topic,
        |       CAST(count(*) AS BIGINT) AS record_cnt, CAST(sum(vlen) AS BIGINT) AS value_bytes
        |FROM x GROUP BY 1, 2""".stripMargin)
    )),

    // P2: default partitioner object keys — one per (topic, partition) flush
    // group, keyed by the group's first (min-offset) record.
    "p2_default_keys" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .groupBy(col("topic"), col("partition").cast("long").as("partition"))
          .agg(min_by(col("ts_ms"), col("offset")).as("first_ts"))
          .select(col("topic"), col("partition"),
            concat(lit("prefix/"), col("topic"), lit("/"),
              col("partition").cast("string"), lit("_"),
              col("first_ts").cast("string"), lit(".json")).as("object_key")),
      Some(s"""$recordsCte
        |SELECT topic, partition,
        |  'prefix/' || topic || '/' || CAST(partition AS VARCHAR) || '_' ||
        |  CAST(arg_min(ts_ms, "offset") AS VARCHAR) || '.json' AS object_key
        |FROM records GROUP BY topic, partition""".stripMargin)
    )),

    // P3: field partitioner — route on a field extracted from the value JSON.
    "p3_field_partition" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .select(get_json_object(col("value").cast("string"), "$.k").as("k"), col("offset"))
          .groupBy("k")
          .agg(count(lit(1)).as("cnt"), min("offset").as("min_offset")),
      Some(s"""$recordsCte
        |SELECT json_extract_string(record_value, '$$.k') AS k,
        |       CAST(count(*) AS BIGINT) AS cnt, min("offset") AS min_offset
        |FROM records GROUP BY 1""".stripMargin)
    )),

    // P4: Hive-style time partitioning (UTC) + per-partition stats.
    "p4_time_partition" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .groupBy(
            year(col("timestamp")).cast("long").as("year"),
            month(col("timestamp")).cast("long").as("month"),
            dayofmonth(col("timestamp")).cast("long").as("day"),
            hour(col("timestamp")).cast("long").as("hour"))
          .agg(count(lit(1)).as("cnt"), min("offset").as("min_offset"),
            max("offset").as("max_offset")),
      Some("""SELECT CAST(year(ts) AS BIGINT) AS year, CAST(month(ts) AS BIGINT) AS month,
        |  CAST(day(ts) AS BIGINT) AS day, CAST(hour(ts) AS BIGINT) AS hour,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  min(event_id) AS min_offset, max(event_id) AS max_offset
        |FROM events GROUP BY 1, 2, 3, 4""".stripMargin)
    )),

    // P7 (r13 verdict item 6 / GAP.md:13 feature 5 "direct partition
    // management"): the full no-crawler chain — FileSink writes the record
    // relation Hive-time-partitioned (the P4 layout), Tables
    // .registerPartitioned registers the path as an external table and
    // recovers its partitions into the catalog (MSCK REPAIR), and the
    // query aggregates FROM THE REGISTERED TABLE's partition columns. An
    // unrecovered catalog returns zero rows here (datasource tables with
    // managed partitions serve from metastore state, not directory
    // listings), so the oracle hash fails loudly if registration breaks.
    // The write is CLUSTERED (r14 verdict item 1): the Time partitioner's
    // default repartition(partitionCols) collapses tasks×720-hour small
    // files to one per partition value, and recoverPartitions lists a
    // proportionally smaller tree — the 100 TB small-files killer fixed at
    // the sink, pinned by SinkSpec's one-file-per-partition test.
    "p7_partition_registry" -> ((
      (s: SparkSession, dir: String) => {
        val out = graft.tools.TmpDirs.path("p7-registry")
        // writeBatch appends; the per-JVM scratch dir must start empty so
        // session recycling doesn't accumulate duplicate batches
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val cfg = graft.model.SinkConfig(bucketName = "b",
          partitioner = graft.model.PartitionerKind.Time,
          format = graft.model.Format.Parquet)
        graft.sinks.FileSink.writeBatch(
          Sources.eventsAsRecords(s, dir).drop("headers"), cfg, out)
        graft.sinks.Tables.registerPartitioned(s, "p7_registered_records", out)
        s.table("p7_registered_records")
          .groupBy(col("year").cast("long").as("year"),
            col("month").cast("long").as("month"),
            col("day").cast("long").as("day"),
            col("hour").cast("long").as("hour"))
          .agg(count(lit(1)).as("cnt"), min("offset").as("min_offset"),
            max("offset").as("max_offset"))
      },
      Some("""SELECT CAST(year(ts) AS BIGINT) AS year, CAST(month(ts) AS BIGINT) AS month,
        |  CAST(day(ts) AS BIGINT) AS day, CAST(hour(ts) AS BIGINT) AS hour,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  min(event_id) AS min_offset, max(event_id) AS max_offset
        |FROM events GROUP BY 1, 2, 3, 4""".stripMargin)
    )),

    // P6 (r12 verdict item 4 / GAP.md:17 "Multiple sink support"): the
    // multi-table fan-out DECISION, batch analog. Records gain per-topic
    // topics (event_type-derived — the fixture's one-topic synthesis can't
    // exercise routing), the routes parse from the real `route.<topic>`
    // config surface (TableRoute.fromMap), and Pipeline.routeTable — the
    // SAME derivation streamToRoutedTables writes by — assigns each record
    // its (route_table, route_format); unrouted topics fall through to the
    // default. The oracle replays the dispatch as a CASE, so a routing
    // regression (wrong topic match, wrong fall-through, wrong format
    // default) breaks the hash compare; StreamingSpec drives the streaming
    // writer itself over a MemoryStream into per-table directories.
    "p6_multi_table_route" -> ((
      (s: SparkSession, dir: String) => {
        val routes = graft.model.TableRoute.fromMap(Map(
          "route.t_click" -> "clicks_v2",
          "route.t_purchase" -> "purchases:json"))
        val multi = Sources.events(s, dir).select(
          concat(lit("t_"), col("event_type")).as("topic"),
          col("event_id").cast("long").as("offset"))
        graft.streaming.Pipeline.routeTable(multi, routes,
            defaultTable = "default_sink", defaultFormat = "parquet")
          .groupBy("route_table", "route_format", "topic")
          .agg(count(lit(1)).as("cnt"), min("offset").as("min_offset"),
            max("offset").as("max_offset"))
      },
      Some("""WITH multi AS (
        |  SELECT 't_' || event_type AS topic, CAST(event_id AS BIGINT) AS "offset"
        |  FROM events)
        |SELECT CASE topic WHEN 't_click' THEN 'clicks_v2'
        |                  WHEN 't_purchase' THEN 'purchases'
        |                  ELSE 'default_sink' END AS route_table,
        |       CASE topic WHEN 't_purchase' THEN 'json' ELSE 'parquet' END AS route_format,
        |       topic, CAST(count(*) AS BIGINT) AS cnt,
        |       min("offset") AS min_offset, max("offset") AS max_offset
        |FROM multi GROUP BY 1, 2, 3""".stripMargin)
    )),

    // P5: the group-by-(topic,partition) output routing.
    "p5_group_route" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .groupBy(col("topic"), col("partition").cast("long").as("partition"))
          .agg(count(lit(1)).as("cnt"), min("offset").as("min_offset"),
            max("offset").as("max_offset")),
      Some(s"""$recordsCte
        |SELECT topic, partition, CAST(count(*) AS BIGINT) AS cnt,
        |       min("offset") AS min_offset, max("offset") AS max_offset
        |FROM records GROUP BY topic, partition""".stripMargin)
    )),

    // K1: flush.size micro-batching — batch id = ordinal div flush.size
    // within each (topic, partition), shipped flush.size = 100.
    "k1_flush_batches" -> ((
      (s: SparkSession, dir: String) => {
        val w = Window.partitionBy("topic", "partition").orderBy("offset")
        records(s, dir)
          .withColumn("batch_id", ((row_number().over(w) - 1) / 100).cast("long"))
          .groupBy(col("topic"), col("partition").cast("long").as("partition"), col("batch_id"))
          .agg(count(lit(1)).as("cnt"), min("offset").as("min_offset"),
            max("offset").as("max_offset"))
      },
      Some(s"""$recordsCte, numbered AS (
        |  SELECT *, CAST((row_number() OVER (PARTITION BY topic, partition ORDER BY "offset") - 1) // 100 AS BIGINT) AS batch_id
        |  FROM records)
        |SELECT topic, partition, batch_id, CAST(count(*) AS BIGINT) AS cnt,
        |       min("offset") AS min_offset, max("offset") AS max_offset
        |FROM numbered GROUP BY topic, partition, batch_id""".stripMargin)
    )),

    // F4: raw-bytes encoder — per-group concatenation in offset order,
    // fingerprinted so the comparison doesn't ship the blobs.
    // F5 (beyond the reference's formats): Confluent wire framing — magic
    // 0x00 + big-endian schema id + payload, hex-dumped for the compare.
    "f5_confluent_frame" -> ((
      (s: SparkSession, dir: String) =>
        records(s, dir)
          .filter(col("offset") < 100)
          .select(col("offset"),
            hex(Encode.confluentFrame(col("value"), schemaId = 7)).as("framed_hex"),
            Encode.confluentSchemaId(
              Encode.confluentFrame(col("value"), schemaId = 7)).cast("long").as("schema_id")),
      Some(s"""$recordsCte
        |SELECT "offset", upper('00' || '00000007' || hex(encode(record_value))) AS framed_hex,
        |       CAST(7 AS BIGINT) AS schema_id
        |FROM records WHERE "offset" < 100""".stripMargin)
    )),

    "f4_bytes_concat" -> ((
      (s: SparkSession, dir: String) =>
        Encode.bytesConcat(records(s, dir))
          .select(col("topic"), col("partition").cast("long").as("partition"),
            col("payload_md5"), col("record_count").cast("long").as("record_count")),
      Some(s"""$recordsCte
        |SELECT topic, partition,
        |       md5(string_agg(record_value, '' ORDER BY "offset")) AS payload_md5,
        |       CAST(count(*) AS BIGINT) AS record_count
        |FROM records GROUP BY topic, partition""".stripMargin)
    )),

    // Stream-stream interval join run in batch: the SAME
    // [[graft.streaming.StreamOps.intervalJoin]] plan (watermarks are
    // no-ops under batch execution — Catalyst's EliminateEventTimeWatermark
    // removes them), pairing each purchase with that user's clicks within
    // ±30 minutes, aggregated per purchase. StreamingSpec drives the
    // identical operator over two MemoryStreams (state eviction, outer-join
    // emission at watermark); this entry pins the join SEMANTICS to a
    // DuckDB oracle. At scale both sides shuffle once on user_id and state
    // is watermark-bounded — the streaming plan a 100 TB clickstream needs.
    "stream_interval_join" -> ((
      (s: SparkSession, dir: String) => {
        val ev = Sources.table(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        graft.streaming.StreamOps
          .intervalJoin(purchases, clicks, "user_id", maxDelayMs = 1800000L)
          .groupBy(col("l.event_id").as("purchase_event"))
          .agg(count(lit(1)).as("n_clicks"),
            min(col("r.event_id")).as("first_click"),
            max(col("r.event_id")).as("last_click"))
      },
      Some("""WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_event, CAST(count(*) AS BIGINT) AS n_clicks,
        |       min(c.event_id) AS first_click, max(c.event_id) AS last_click
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |  AND c.ts <= p.ts + INTERVAL 30 MINUTE
        |GROUP BY 1""".stripMargin)
    )),

    // At-least-once → effectively-once, batch twin: re-deliver every third
    // record (a second copy, the broker-retry shape) and drop the dups by
    // (topic, partition, offset) identity — the batch semantics of
    // [[graft.streaming.StreamOps.dedupWithinWatermark]], whose streaming
    // form (dropDuplicatesWithinWatermark, state bounded by the watermark
    // horizon) StreamingSpec exercises over a MemoryStream. The oracle is
    // the ORIGINAL stream aggregated: redelivery must be invisible.
    "stream_dedup_redelivery" -> ((
      (s: SparkSession, dir: String) => {
        val r = records(s, dir)
        val redelivered = r.unionByName(r.filter(col("offset") % 3 === 0))
        redelivered.dropDuplicates("topic", "partition", "offset")
          .groupBy(col("topic"), col("partition").cast("long").as("partition"))
          .agg(count(lit(1)).as("n_records"), sum(col("offset")).as("offset_sum"))
      },
      Some(s"""$recordsCte
        |SELECT topic, partition, CAST(count(*) AS BIGINT) AS n_records,
        |       CAST(sum("offset") AS BIGINT) AS offset_sum
        |FROM records GROUP BY topic, partition""".stripMargin)
    )),

    // CDC log compaction, batch twin: the SAME
    // [[graft.streaming.StreamOps.latestByKey]] stateful operator run in
    // batch execution — each user's newest change by (ts_ms, event_id)
    // wins, 'error' ops are tombstones that stay visible (the downstream
    // delete signal). The operator needs no within-batch sort (max is
    // commutative/idempotent), so redelivery in any order converges —
    // the oracle is a window-ranked QUALIFY over the SAME ms-truncated
    // ordering key. StreamingSpec drives the streaming form across
    // micro-batch boundaries (state carried, newer batch wins).
    "stream_latest_by_key" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val ch = Sources.table(s, dir, "events")
          .select(col("user_id").as("key"),
            expr("unix_micros(ts) div 1000").as("ts_ms"),
            col("event_id").as("seq"),
            col("event_type").as("op"),
            col("props").as("payload"))
          .as[graft.streaming.StreamOps.ChangeEvent]
        graft.streaming.StreamOps.latestByKey(ch, tombstoneOp = "error").toDF()
      },
      Some("""SELECT user_id AS key, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |  event_id AS seq, event_type AS op, props AS payload,
        |  event_type = 'error' AS is_tombstone
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) = 1""".stripMargin)
    )),

    // Gap-sessionization, batch twin of the CUSTOM-STATE streaming
    // operator ([[graft.streaming.StreamOps.sessionize]],
    // flatMapGroupsWithState + event-time timeout — what the built-in
    // session_window cannot express when per-session state gets richer):
    // in batch execution each user's history arrives as one group with no
    // prior state and no timeout firing, so exactly the CLOSED sessions
    // emit — Append-mode semantics, each user's final (still-open)
    // session withheld. The oracle replays that contract: islands
    // sessionization minus each user's last island. value_sum is
    // deliberately not part of the checked output (the operator folds
    // doubles in event-time order; equal-timestamp ties make that sum
    // order-ambiguous — StreamingSpec checks it on tie-free data instead).
    "stream_sessionize" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val ev = Sources.table(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 1000").as("ts_ms"),
            col("value"))
          .as[graft.streaming.StreamOps.SessionEvent]
        graft.streaming.StreamOps.sessionize(ev, gapMs = 1800000L).toDF()
          .select(col("user_id"), col("session_start_ms"),
            col("session_end_ms"), col("events").cast("long").as("events"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms FROM events),
        |b AS (SELECT *, CASE WHEN lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) IS NULL
        |         OR ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) > 1800000
        |       THEN 1 ELSE 0 END AS boundary FROM e),
        |sids AS (SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM b),
        |ses AS (SELECT user_id, sid, min(ts_ms) AS session_start_ms,
        |    max(ts_ms) AS session_end_ms, CAST(count(*) AS BIGINT) AS events
        |  FROM sids GROUP BY 1, 2)
        |SELECT user_id, session_start_ms, session_end_ms, events FROM ses
        |QUALIFY sid < max(sid) OVER (PARTITION BY user_id)""".stripMargin)
    )),

    // Per-domain admission cap, batch twin of the stateful streaming
    // operator ([[graft.streaming.StreamOps.capPerKey]]): each source
    // admits at most 5 docs across the stream's LIFETIME (state = one
    // admitted-count long per key; within a batch a bounded heap admits
    // the smallest ids in one pass — never a full-group buffer). In batch
    // execution every source arrives as one group with no prior state, so
    // exactly the 5 smallest doc_ids admit — the oracle replays that as a
    // window QUALIFY. StreamingSpec drives the cross-batch form (earlier
    // batches win; a full domain admits nothing later).
    "stream_domain_cap" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val d = Sources.table(s, dir, "documents")
          .select(col("source"), col("doc_id")).as[(String, Long)]
        graft.streaming.StreamOps.capPerKey(d, cap = 5).toDF()
      },
      Some("""SELECT source, doc_id,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS admit_rank
        |FROM documents QUALIFY admit_rank <= 5""".stripMargin)
    )),

    // Lifetime weighted sample over a stream, batch twin of
    // [[graft.streaming.StreamOps.weightedReservoir]]: the reservoir is
    // the 25 best Efraimidis–Spirakis keys seen so far, and because the
    // key is a pure function of the doc, any micro-batch split of the
    // same corpus converges to the SAME 25 rows — an exact oracle for a
    // streaming sampler (the oracle is q_weighted_reservoir's, replayed
    // against the stateful operator's batch execution). StreamingSpec
    // proves the batching-independence across real micro-batches.
    "stream_weighted_reservoir" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val t = graft.operators.TextAnalysis.tokens(col("text"))
        val weight = when(size(t) === 0, lit(0L))
          .otherwise(floor(size(array_distinct(t)).cast("long") * 1000L / size(t)))
        val h20 = pmod(pmod(col("doc_id"), lit(1000000007L)) * 2654435761L,
          lit(1000000007L)) % 1048576L
        val keyed = Sources.table(s, dir, "documents")
          .select(col("doc_id"), weight.cast("long").as("weight"),
            floor(lit(1e6) * log((h20 + 1L).cast("double") / 1048577.0))
              .cast("long").as("k6"))
          .filter(col("weight") > 0)
          .as[(Long, Long, Long)]
        graft.streaming.StreamOps.weightedReservoir(keyed, k = 25).toDF()
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

    // Schema evolution at read time: half the record stream plays the OLD
    // file schema (no record_key column), half the new one; a reader must
    // union them with the missing column null-defaulted —
    // `unionByName(allowMissingColumns = true)`, Spark's analog of parquet
    // mergeSchema / Iceberg add-column evolution. The aggregate counts how
    // many rows actually carry the evolved column, so a silent column drop
    // or misalignment (positional union's classic failure) flips the gate.
    "f6_schema_evolution" -> ((
      (s: SparkSession, dir: String) => {
        val r = records(s, dir)
        val oldFiles = r.filter(col("offset") % 2 === 0)
          .select(col("topic"), col("partition").cast("long").as("partition"),
            col("offset"), col("ts_ms"))
        val newFiles = r.filter(col("offset") % 2 === 1)
          .select(col("topic"), col("partition").cast("long").as("partition"),
            col("offset"), col("ts_ms"), col("key").as("record_key"))
        oldFiles.unionByName(newFiles, allowMissingColumns = true)
          .groupBy("topic", "partition")
          .agg(count(lit(1)).as("n_records"),
            count(col("record_key")).as("n_with_key"),
            min(when(col("record_key").isNotNull, col("offset"))).as("first_keyed_offset"))
      },
      Some(s"""$recordsCte
        |SELECT topic, partition, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(sum(CASE WHEN "offset" % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_key,
        |  min(CASE WHEN "offset" % 2 = 1 THEN "offset" END) AS first_keyed_offset
        |FROM records GROUP BY topic, partition""".stripMargin)
    )),

    // Markov transition counting as STREAMING state, batch twin: the
    // [[graft.streaming.StreamOps.transitionsPerKey]] operator keeps each
    // user's LAST event as O(1) state and emits one (src, dst) edge per
    // arriving event — the streaming producer feeding the same transition
    // matrix q_markov_transitions / q_markov_stationary read. In batch
    // execution each user's history folds in (ts_ms, event_id) order —
    // the same total order as the batch lead() window, so the counts are
    // row-identical to the window oracle. StreamingSpec drives the
    // streaming form across micro-batch boundaries (state carries the
    // last event between batches, at-least-once replays are dropped by
    // the strict-ordering guard).
    "stream_markov_transitions" -> ((
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val ev = Sources.table(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 1000").as("ts_ms"),
            col("event_id"), col("event_type"))
          .as[graft.streaming.StreamOps.TypedEvent]
        graft.streaming.StreamOps.transitionsPerKey(ev).toDF()
          .groupBy("src_type", "dst_type")
          .agg(count(lit(1)).as("cnt"))
      },
      Some("""WITH seq AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)), event_id) AS dst_type
        |  FROM events)
        |SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2""".stripMargin)
    ))
  )
}
