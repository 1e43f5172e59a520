package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output encoders — the "projection" layer of the reference engine.
  *
  * F2 (JSON-lines, `src/connector/sink/s3.rs:182-298`) is the only structured
  * format the reference actually implemented; its semantics are:
  *   - metadata projection: topic, partition, offset, timestamp (`s3.rs:190-205`)
  *   - key/value: emit parsed JSON when the bytes are valid JSON, otherwise
  *     base64-encode and tag with `key_format`/`value_format = "base64"`
  *     (`s3.rs:208-266`)
  *   - empty key/value are omitted entirely, not null (`s3.rs:208`, `:238`)
  *   - headers as a JSON object (`s3.rs:269-279`), newline-delimited output.
  *
  * Everything here is pure `Column` algebra — no UDFs — so predicates stay
  * inside whole-stage codegen and Catalyst can prune/push down around them.
  * At 100 TB this layer is a narrow map over the scan: no shuffle, no state.
  * The one per-record cost that matters is the JSON sniff (a full
  * `try_parse_json` of the payload), so each field is sniffed exactly once:
  * [[withFormatTags]] computes the tag in its own projection and
  * [[sniffedOut]] derives the payload from the tag, not from a second parse.
  */
object Encode {

  /** The `key_format`/`value_format` tag: "json" | "base64" | null(omitted).
    * `try_parse_json` (Spark 4 Variant) matches the reference's serde_json
    * sniff (`s3.rs:215-235`): any valid JSON document, including scalars.
    * Empty input → null (the reference omits the field entirely; null is
    * our columnar representation of "omitted").
    */
  private def formatTag(c: Column): Column = {
    val s = c.cast("string")
    when(length(s) === 0 || c.isNull, lit(null).cast("string"))
      .when(try_parse_json(s).isNotNull, lit("json"))
      .otherwise(lit("base64"))
  }

  /** Adds `<f>_format` for each payload field `f`: the one JSON sniff per
    * field. The tags live in their own projection and [[sniffedOut]] reads
    * each tag twice, so CollapseProject cannot inline the sniff back into
    * its readers (it only inlines an expensive expression read once).
    */
  def withFormatTags(records: DataFrame, fields: String*): DataFrame =
    records.select(col("*") +: fields.map(f => formatTag(col(f)).as(s"${f}_format")): _*)

  /** `<f>_out` from the tag [[withFormatTags]] added — `s3.rs:220-234`: the
    * original text when the tag is "json", base64 of the raw bytes when
    * "base64", null when omitted.
    */
  def sniffedOut(f: String): Column = {
    val (c, tag) = (col(f), col(s"${f}_format"))
    // Spark's base64 is MIME-chunked (CRLF every 76 chars); the reference
    // emits standard unchunked base64 (`s3.rs:227`), so strip the breaks.
    when(tag === "json", c.cast("string"))
      .when(tag === "base64", replace(base64(c.cast("binary")), lit("\r\n"), lit("")))
      .as(s"${f}_out")
  }

  /** F2: records → the JSON-lines projection as typed columns.
    * Input must have KafkaRecord columns; output adds the sniffed key/value
    * plus format tags. Callers who need the literal newline-delimited bytes
    * apply [[toJsonLine]] afterwards; keeping the typed form here lets the
    * correctness oracle compare structured values instead of JSON text.
    */
  def jsonLinesProjection(records: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    withFormatTags(records, "key", "value").select(Seq(
      col("topic"), col("partition"), col("offset"), col("timestamp"),
      sniffedOut("key"), col("key_format"),
      sniffedOut("value"), col("value_format"),
      col("headers")
    ) ++ passthrough.map(col): _*)

  /** [[jsonLinesProjection]] carrying every non-record column through — the
    * partitioner's derivation columns a sink partitions the write by.
    */
  def jsonLinesWithDerived(records: DataFrame): DataFrame = {
    val recordCols = graft.model.KafkaRecord.schema.fieldNames.toSet
    jsonLinesProjection(records, records.columns.filterNot(recordCols).toIndexedSeq)
  }

  /** The literal one-JSON-object-per-record line (`s3.rs:283-284`).
    * `to_json` drops null struct fields, reproducing the reference's
    * "omit empty key/value" behaviour.
    */
  def toJsonLine(projected: DataFrame): DataFrame =
    projected.select(to_json(struct(projected.columns.map(col).toIndexedSeq: _*)).as("line"))

  /** Inverse of [[jsonLinesProjection]]: recover the original record bytes
    * from the sniffed/tagged form. Lossless by construction — the encoder
    * emits the ORIGINAL string when the bytes were valid JSON (no
    * reserialization) and unchunked base64 otherwise, so
    * `decode(encode(x)) == x` for every payload; a null tag means the
    * reference's "omitted empty field", which decodes back to empty bytes.
    * This is what makes the sink format a real interchange format: the
    * engine can re-ingest its own S3 output (`f2_roundtrip` proves it
    * across the whole events fixture).
    */
  def fromJsonLinesProjection(projected: DataFrame): DataFrame = {
    def decode(out: Column, fmt: Column): Column =
      when(fmt.isNull, lit(Array.empty[Byte]))
        .when(fmt === "base64", unbase64(out))
        .otherwise(out.cast("binary"))
    projected.select(
      col("topic"), col("partition"), col("offset"), col("timestamp"),
      decode(col("key_out"), col("key_format")).as("key"),
      decode(col("value_out"), col("value_format")).as("value"),
      col("headers"))
  }

  /** F4: raw-bytes encoder (`s3.rs:674-688`) — concatenates record values per
    * output group, in offset order. The reference concatenates the buffer in
    * arrival order; offset order is the deterministic equivalent. Emits an
    * md5 fingerprint alongside so equality checks don't ship megabyte blobs.
    *
    * Scale note: one `collect_list` per (topic, partition) group mirrors the
    * reference's one-object-per-group flush. Groups are bounded by flush.size
    * in the streaming path, so the list never exceeds the flush buffer.
    */
  /** Confluent wire framing for a registry-encoded payload: magic byte
    * 0x00, big-endian 4-byte schema id, then the payload bytes — the
    * per-message counterpart of the schema-registry model
    * ([[graft.model.SchemaRegistry]]). Pure binary concat, codegen'd.
    */
  def confluentFrame(value: Column, schemaId: Int): Column = {
    val header = Array[Byte](0,
      (schemaId >>> 24).toByte, (schemaId >>> 16).toByte,
      (schemaId >>> 8).toByte, schemaId.toByte)
    concat(lit(header), value)
  }

  /** Schema id recovered from a Confluent-framed payload (bytes 2-5,
    * big-endian).
    */
  def confluentSchemaId(framed: Column): Column =
    conv(hex(substring(framed, 2, 4)), 16, 10).cast("int")

  def bytesConcat(records: DataFrame): DataFrame =
    records
      .groupBy(col("topic"), col("partition"))
      .agg(collect_list(struct(col("offset"), col("value").cast("string").as("v"))).as("vs"))
      .select(
        col("topic"), col("partition"),
        md5(concat_ws("", transform(array_sort(col("vs")), x => x.getField("v")))).as("payload_md5"),
        size(col("vs")).as("record_count")
      )
}
