package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkEntry

/** `catalog_slice`, batch: catalog entries from `SparkEntry.queries`, each
  * timed the way the catalog bench times one entry (clear the cache, then a
  * `noop` write of the whole frame), in a seeded order per pass. An untimed
  * warm pass comes first and dumps every result to parquet for the DuckDB
  * oracle check the launcher runs afterwards.
  */
object CatalogSlice {
  /** The slice, by group. `sql`: the TPC-H-shaped headline entries. `ops`:
    * the operator entries the roadmap's open items name, plus one
    * connected-components loop. `mover`: the batch twins of the mover path.
    */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "sql" -> Seq("q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
      "q6_forecast_revenue", "q19_brand_revenue"),
    "ops" -> Seq("ann_graph_multihop", "q_bootstrap_ci", "media_pcm_stats",
      "text_decontaminate_bloom"),
    "mover" -> Seq("f2_json_encode", "f2_roundtrip", "p4_time_partition"))

  val Entries: Seq[String] = Groups.flatMap(_._2)
  private val groupOf = Groups.flatMap { case (g, es) => es.map(_ -> g) }.toMap

  final case class Exec(entry: String, pass: Int, startMs: Double, endMs: Double,
                        error: Option[String]) {
    def secs: Double = (endMs - startMs) / 1000
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    val dir = data.getPath
    val dump = new File(work, "results")
    val rnd = new scala.util.Random(seed)
    def order(): Seq[String] = rnd.shuffle(Entries)

    def once(entry: String, pass: Int, write: org.apache.spark.sql.DataFrame => Unit): Exec = {
      spark.catalog.clearCache()
      val t0 = tracer.nowMs
      val err = try {
        tracer.span("queries", entry, s"$entry#$pass")(write(SparkEntry.queries(entry)(spark, dir)))
        None
      } catch { case e: Throwable => Some(s"$entry: $e") }
      Exec(entry, pass, t0, tracer.nowMs, err)
    }

    // warm pass: untimed; its parquet dump is what the oracle check reads
    val warm = order().map(e => once(e, 0, _.coalesce(1).write.mode("overwrite")
      .parquet(new File(dump, e).getPath)))
    Files.write(new File(work, "oracle_sql.json").toPath, Json.write(
      Entries.map(e => e -> SparkEntry.oracleSql.get(e)).toMap).getBytes(UTF_8))
    result.metric("setup_s", (tracer.nowMs - jvmStartMs) / 1000)
    result.notes("warm_pass_s") = warm.map(x => x.entry -> x.secs).toMap
    result.mark("setup")
    warm.flatMap(_.error).foreach(e => result.incorrect(s"warm pass: $e"))
    result.flush()

    // timed passes: at least two, then whole passes until the measuring
    // time is used up
    val t0 = tracer.nowMs
    val execs = Seq.newBuilder[Exec]
    var pass = 0
    while (pass < 2 || tracer.nowMs - t0 < seconds * 1000.0) {
      pass += 1
      val done = order().map(e => once(e, pass, _.write.format("noop").mode("overwrite").save()))
      result.attempt(done.size)
      result.fail(done.count(_.error.isDefined))
      done.flatMap(_.error).foreach(result.incorrect)
      execs ++= done
      result.mark(s"pass$pass")
      result.flush()
    }
    val all = execs.result()
    val passes = all.groupBy(_.pass).values.toSeq
    def perPass(g: Option[String]) =
      passes.map(_.filter(x => g.forall(groupOf(x.entry) == _)).map(_.secs).sum)
    result.metric("catalog_s", Stats.median(perPass(None)), passes.size)
    result.metric("pass_p50_ms", Stats.median(perPass(None)) * 1000, passes.size)
    Groups.foreach { case (g, _) =>
      result.metric(s"catalog_${g}_s", Stats.median(perPass(Some(g))), passes.size)
    }
    result.notes("entry_s") = Entries.map(e => e -> Stats.median(all.filter(_.entry == e).map(_.secs))).toMap
    val ms = all.map(_.secs * 1000)
    result.metric("entry_p50_ms", Stats.median(ms), ms.size)
    result.metric("entry_p90_ms", Stats.pct(ms, 90), ms.size)
    result.metric("entries_per_s", all.size / all.map(_.secs).sum, all.size)

    if (tracer.enabled) {
      val l = result.layers
      Entries.foreach(e => l(s"queries.${e}_s") = Stats.median(all.filter(_.entry == e).map(_.secs)))
      l ++= Tracer.sparkLayers(all.map(x =>
        (x.startMs, x.endMs, tracer.jobsIn(x.startMs, x.endMs), tracer.execsIn(x.startMs, x.endMs))))
      // Spark jobs as spans under the entry that ran them (entries run one
      // at a time, so the time window attributes them)
      all.foreach { x =>
        val parent = tracer.spans.toArray(Array.empty[Span])
          .find(s => s.layer == "queries" && s.traceId == s"${x.entry}#${x.pass}").map(_.id).getOrElse(0L)
        tracer.jobsIn(x.startMs, x.endMs).foreach { j =>
          tracer.add(Span(tracer.newId(), parent, s"${x.entry}#${x.pass}", "sched", s"job-${j.id}",
            j.startMs, if (j.endMs.isNaN) x.endMs else j.endMs))
        }
      }
    }
  }
}
