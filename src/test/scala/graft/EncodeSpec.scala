package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model.KafkaRecord
import graft.operators.{Encode, OutputPartitioners}

/** F2/P2/P4 semantics against the reference's golden expectations
  * (`s3.rs:182-298` encoder, `s3.rs:799-851` partitioner keys).
  */
class EncodeSpec extends SparkSpec {
  import spark.implicits._

  private def rec(topic: String = "test-topic", partition: Int = 0,
                  offset: Long = 0L, tsMillis: Long = 1234567890L,
                  key: String = "key-1", value: String = """{"id": 1}""",
                  headers: Map[String, String] = Map("h" -> "v")) =
    KafkaRecord(topic, partition, offset, new Timestamp(tsMillis),
      if (key == null) null else key.getBytes("UTF-8"),
      if (value == null) null else value.getBytes("UTF-8"), headers)

  test("F2: valid JSON value passes through with format tag json") {
    val out = Encode.jsonLinesProjection(Seq(rec()).toDF()).collect()(0)
    assert(out.getAs[String]("value_out") == """{"id": 1}""")
    assert(out.getAs[String]("value_format") == "json")
  }

  test("F2: non-JSON value becomes unchunked base64 with tag base64") {
    val raw = "not json " * 30 // long enough to trigger MIME chunking if present
    val out = Encode.jsonLinesProjection(Seq(rec(value = raw)).toDF()).collect()(0)
    val b64 = java.util.Base64.getEncoder.encodeToString(raw.getBytes("UTF-8"))
    assert(out.getAs[String]("value_out") == b64)
    assert(!out.getAs[String]("value_out").contains("\r"))
    assert(out.getAs[String]("value_format") == "base64")
  }

  test("F2: empty key/value are omitted (null out, null tag) per s3.rs:208,238") {
    val out = Encode.jsonLinesProjection(Seq(rec(key = "", value = "")).toDF()).collect()(0)
    assert(out.getAs[String]("key_out") == null)
    assert(out.getAs[String]("key_format") == null)
    assert(out.getAs[String]("value_out") == null)
  }

  test("F2: toJsonLine emits one JSON object per record, omitting nulls") {
    val df = Encode.jsonLinesProjection(Seq(rec(key = "")).toDF())
    val line = Encode.toJsonLine(df).as[String].collect()(0)
    assert(line.startsWith("""{"topic":"test-topic""""))
    assert(!line.contains("key_out")) // omitted like the reference
    assert(line.contains(""""value_format":"json""""))
  }

  test("F2: decode inverts encode for json, binary, and empty payloads") {
    val recs = Seq(
      rec(offset = 0, value = """{"id": 1}"""),          // json branch
      rec(offset = 1, value = "not json ÿ bytes"),  // base64 branch
      rec(offset = 2, key = "", value = ""))             // omitted branch
    val back = Encode.fromJsonLinesProjection(
      Encode.jsonLinesProjection(recs.toDF()))
      .select(col("offset"), col("key").cast("string"), col("value").cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(back(0) == ((0L, "key-1", """{"id": 1}""")))
    assert(back(1) == ((1L, "key-1", "not json ÿ bytes")))
    assert(back(2) == ((2L, "", "")))
  }

  test("F2: written JSON-lines files re-ingest via Sources.jsonLinesRecords") {
    val dir = java.nio.file.Files.createTempDirectory("jsonlines").toString
    val recs = Seq(rec(offset = 10), rec(offset = 11, value = "raw  bytes"))
    Encode.jsonLinesProjection(recs.toDF())
      .write.mode("overwrite").json(dir)
    val back = graft.sources.Sources.jsonLinesRecords(spark, dir)
      .select(col("offset"), col("value").cast("string"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((10L, """{"id": 1}"""), (11L, "raw  bytes")))
  }

  test("F2: the executed plan parses each payload once (key and value: two parseJson calls)") {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // a range scan, not a local Seq: the optimizer would fold a projection
    // over a LocalRelation before planning and leave nothing to count
    val records = spark.range(64).select(
      lit("t").as("topic"), (col("id") % 8).cast("int").as("partition"), col("id").as("offset"),
      current_timestamp().as("timestamp"), col("id").cast("string").cast("binary").as("key"),
      when(col("id") % 3 === 0, lit("not json")).otherwise(to_json(struct(col("id"))))
        .cast("binary").as("value"),
      map(lit("h"), lit("v")).as("headers"))
    val df = Encode.jsonLinesProjection(records)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val parses = plan.collect { case node =>
      node.expressions.flatMap(_.collect {
        case s: StaticInvoke if s.functionName == "parseJson" => s
      })
    }.flatten
    assert(parses.size == 2, s"expected one sniff per field, got ${parses.size}:\n$plan")
    val formats = df.select("value_format").as[String].collect()
    assert(formats.count(_ == "base64") == 22 && formats.count(_ == "json") == 42)
  }

  test("P2: default partitioner golden key prefix/test-topic/0_1234567890.json (s3.rs:836)") {
    val key = Seq(rec()).toDF()
      .select(OutputPartitioners.defaultKey("prefix", "json").as("k"))
      .as[String].collect()(0)
    assert(key == "prefix/test-topic/0_1234567890.json")
  }

  test("P4: time partitioner derives UTC year/month/day/hour (s3.rs:838-850)") {
    // 2009-02-13T23:31:30Z = 1234567890000 ms
    val df = OutputPartitioners.withTimePartitions(Seq(rec(tsMillis = 1234567890000L)).toDF())
    val r = df.select("year", "month", "day", "hour").collect()(0)
    assert(r.getInt(0) == 2009)
    assert(r.getString(1) == "02")
    assert(r.getString(2) == "13")
    assert(r.getString(3) == "23")
  }

  test("F4: bytesConcat concatenates values per (topic,partition) in offset order") {
    val recs = Seq(
      rec(offset = 2, value = "c"), rec(offset = 0, value = "a"),
      rec(offset = 1, value = "b"), rec(partition = 1, offset = 0, value = "z"))
    val out = Encode.bytesConcat(recs.toDF()).orderBy("partition").collect()
    val expected0 = java.security.MessageDigest.getInstance("MD5")
      .digest("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getAs[String]("payload_md5") == expected0)
    assert(out(0).getAs[Int]("record_count") == 3)
    assert(out(1).getAs[Int]("record_count") == 1)
  }

  test("Confluent framing: magic byte + big-endian schema id round-trips") {
    val df = Seq(("payload")).toDF("v")
      .select(Encode.confluentFrame(col("v").cast("binary"), schemaId = 0x01020304).as("f"))
      .select(col("f"), Encode.confluentSchemaId(col("f")).as("id"))
    val r = df.collect()(0)
    val bytes = r.getAs[Array[Byte]]("f")
    assert(bytes(0) == 0x00.toByte)
    assert(bytes.slice(1, 5).toSeq == Seq(0x01, 0x02, 0x03, 0x04).map(_.toByte))
    assert(new String(bytes.drop(5), "UTF-8") == "payload")
    assert(r.getAs[Int]("id") == 0x01020304)
  }

  test("schema registry: identical schemas dedupe, versions are per subject") {
    import graft.model.InMemorySchemaRegistry
    val reg = new InMemorySchemaRegistry
    val a1 = reg.register("events-value", """{"type":"string"}""")
    val a2 = reg.register("events-value", """{"type":"string"}""")
    assert(a1 == a2) // identical schema -> same id, same version
    val a3 = reg.register("events-value", """{"type":"bytes"}""")
    assert(a3.version == 2 && a3.id != a1.id)
    val b1 = reg.register("other-value", """{"type":"string"}""")
    assert(b1.version == 1 && b1.id != a1.id && b1.id != a3.id)
    assert(reg.latest("events-value").contains(a3))
    assert(reg.byId(a1.id).contains(a1))
    assert(reg.latest("missing").isEmpty)
  }
}
