package graftbench

import java.io.File

import graft.model.{Format, KafkaRecord, PartitionerKind, SinkConfig}
import graft.sinks.FileSink

/** The output checks shared by the workloads, and a self-test that plants a
  * mismatch under each of them.
  */
object Checks {
  /** Keys whose multiset of values differs between the two collections.
    * Values compare by content (byte arrays included).
    */
  def multisetDiff[K](want: Seq[(K, Seq[Array[Byte]])], got: Seq[(K, Seq[Array[Byte]])]): Set[K] = {
    def bag(xs: Seq[(K, Seq[Array[Byte]])]) =
      xs.groupMapReduce { case (k, v) => (k, v.map(b => java.nio.ByteBuffer.wrap(b))) }(_ => 1)(_ + _)
    val (a, b) = (bag(want), bag(got))
    (a.keySet ++ b.keySet).filter(k => a.getOrElse(k, 0) != b.getOrElse(k, 0)).map(_._1)
  }

  /** Ids that were pushed but not acked, acked but not pushed, or acked
    * more than once; and how many duplicate acks there were.
    */
  def ackDiff[A](sent: Seq[A], acked: Seq[A]): (Set[A], Int) = {
    val counts = acked.groupBy(identity).view.mapValues(_.size).toMap
    val dup = counts.filter(_._2 > 1).keySet
    ((sent.toSet -- counts.keySet) ++ (counts.keySet -- sent.toSet) ++ dup,
      counts.values.map(_ - 1).sum)
  }

  /** Data files of a sink's output tree (no markers, checksums or logs). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) Seq(dir).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    else Option(dir.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("_")).flatMap(dataFiles)

  /** Each check must pass on matching output and fail on a planted
    * mismatch. Fills the result with one pass/fail note per case.
    */
  def selftest(ctx: Ctx): Unit = {
    import ctx._
    import spark.implicits._
    val recs = new Records(ctx.seed).batch(300, 1710000000000L)
    def fresh(name: String) = {
      val r = new Result(new File(work, s"selftest-$name.json"), name)
      (ctx.copy(result = r), r)
    }
    def expect(name: String, shouldPass: Boolean)(run: Ctx => Unit): Unit = {
      val (c, r) = fresh(name)
      run(c)
      val passed = r.failed == 0 && r.notes.get("check_failures").isEmpty
      result.notes(name) = if (passed == shouldPass) "ok" else s"WRONG (check passed=$passed)"
      result.attempt(1)
      if (passed != shouldPass) { result.fail(1); result.incorrect(s"selftest $name") }
    }
    val df = recs.toDF()

    // stream_json: JSON-lines sink read back against the pushed multiset
    val jsonOut = new File(work, "selftest-json")
    FileSink.writeBatch(df, SinkConfig(bucketName = "b"), jsonOut.getPath)
    def exp(rs: Seq[KafkaRecord]) = rs.map(r => (0, r.partition, r.offset, r.value))
    expect("stream_json_match", shouldPass = true)(StreamJson.check(_, jsonOut, exp(recs)))
    expect("stream_json_missing_record", shouldPass = false)(
      StreamJson.check(_, jsonOut, exp(recs :+ recs.head.copy(offset = 1L << 40))))
    expect("stream_json_changed_value", shouldPass = false)(
      StreamJson.check(_, jsonOut, exp(recs.updated(5, recs(5).copy(value = "x".getBytes)))))

    // grpc_ack: acks against pushed ids, parquet read-back against pushed records
    val pqOut = new File(work, "selftest-parquet")
    FileSink.writeBatch(df, SinkConfig(bucketName = "b", format = Format.Parquet,
      partitioner = PartitionerKind.Time), pqOut.getPath)
    val ids = recs.map(r => GrpcAck.RecId(r.partition, r.offset))
    val trip = GrpcAck.Trip(0, 0, 0, 1, ids, Right(ids))
    expect("grpc_ack_match", shouldPass = true)(GrpcAck.check(_, pqOut, recs, ids, Seq(trip)))
    expect("grpc_ack_acked_twice", shouldPass = false)(
      GrpcAck.check(_, pqOut, recs, ids :+ ids.head, Seq(trip)))
    expect("grpc_ack_not_acked", shouldPass = false)(
      GrpcAck.check(_, pqOut, recs, ids.tail, Seq(trip)))
    expect("grpc_ack_readback_differs", shouldPass = false)(GrpcAck.check(_, pqOut,
      recs.updated(7, recs(7).copy(value = "changed".getBytes)), ids, Seq(trip)))
    result.flush()
  }
}
