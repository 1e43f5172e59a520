package graft

import org.apache.spark.sql.execution.QueryExecution

/** Driver-contract meta-checks over the whole catalog: the gate compares
  * Spark results to DuckDB with columns sorted by NAME, so an alias that
  * drifts between the Spark plan and the oracle SQL hash-mismatches even
  * when every value is identical. This spec catches that class from plan
  * analysis — no test here CALLS an action, but building entries that
  * carry EAGER localCheckpoints (the unrolled-iterative lineage cuts)
  * does execute their pre-checkpoint stages at construction time (r11
  * ADVICE, documented trade-off: eagerness is load-bearing where a
  * checkpoint drains a persisted upstream that unpersists right after —
  * see Graph.pageRank — so these tests pay the materialization instead
  * of flipping 60 call sites to lazy). The audited plan is the
  * post-truncation one; the checkpoint CUTS themselves are covered by
  * the BoundedCheckpoints declared-trust registry, which PlanGateSpec
  * negative-tests.
  */
class CatalogContractSpec extends SparkSpec {

  private lazy val entries = SparkEntry.queries.keys.toSeq.sorted

  /** Every entry built once, its analyzed, optimized and executed plans
    * forced once; each plan gate below reads these.
    */
  private lazy val plans: Map[String, QueryExecution] = entries.map { name =>
    val qe = SparkEntry.queries(name)(spark, sf0001).queryExecution
    qe.analyzed
    qe.optimizedPlan
    qe.executedPlan
    name -> qe
  }.toMap

  test("no duplicate entry keys across the query source files") {
    // A Map literal with a repeated key keeps the LAST binding silently —
    // a duplicate entry name means one definition is dead code and its
    // oracle never runs against it (r15: a q_theil_sen draft shadowed the
    // long-standing entry; only the catalog census caught it). Parse the
    // definition sites out of the source and require exactly one per key.
    val defPattern = """"([a-z0-9_]+)" -> \(\(""".r
    val files = new java.io.File("src/main/scala/graft/queries").listFiles()
      .filter(_.getName.endsWith(".scala"))
    val defs = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try defPattern.findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
    }
    val dups = defs.groupBy(identity).collect { case (n, g) if g.length > 1 => n }
    assert(dups.isEmpty, s"entry keys defined more than once: ${dups.mkString(", ")}")
    assert(defs.length == SparkEntry.queries.size,
      s"${defs.length} definition sites vs ${SparkEntry.queries.size} map keys — " +
        "a definition is shadowed or the regex missed a site")
  }

  test("every catalog query analyzes and has distinct, lowercase column names") {
    val bad = entries.flatMap { name =>
      val schema = plans(name).analyzed.schema
      val cols = schema.fieldNames.toSeq
      val dups = cols.groupBy(identity).collect { case (c, g) if g.size > 1 => c }
      val upper = cols.filter(c => c != c.toLowerCase)
      (if (dups.nonEmpty) Seq(s"$name: duplicate columns $dups") else Nil) ++
        (if (upper.nonEmpty) Seq(s"$name: non-lowercase columns $upper") else Nil)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every output column name appears verbatim in its oracle SQL") {
    // the driver sorts columns by name before hashing — a Spark column the
    // SQL never aliases is the classic silent hash-mismatch
    val bad = entries.flatMap { name =>
      SparkEntry.oracleSql.get(name).toSeq.flatMap { sql =>
        val sqlLower = sql.toLowerCase
        val schema = plans(name).analyzed.schema
        schema.fieldNames.filterNot { c =>
          java.util.regex.Pattern.compile("\\b" + java.util.regex.Pattern.quote(c.toLowerCase) + "\\b")
            .matcher(sqlLower).find()
        }.map(c => s"$name: column '$c' not found in oracle SQL")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every oracle-checked entry has a query and vice versa (keys align)") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every persist in an operator file is unpersisted or carries the cache contract") {
    // an operator that persists and neither releases the relation nor
    // declares the documented caller-must-clear-cache contract leaks cache
    // silently in long-lived sessions — make that a failing test, not a
    // verdict finding. File granularity: persist/unpersist counts must
    // balance, OR the file must state the contract marker.
    // ALL of src/main, recursively — the r9 verdict found query-file
    // persists (queries/ lambdas) escaping the original two-directory
    // scan; nothing under src/main is exempt now.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val persists = "\\.persist\\(".r.findAllIn(src).size
        val unpersists = "\\.unpersist\\(".r.findAllIn(src).size
        if (persists > unpersists && !src.contains("caller-must-clear-cache"))
          Some(s"$p: $persists persist vs $unpersists unpersist, no contract marker")
        else None
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no broadcast hint on an unbounded subtree (except declared twins)") {
    // the 100 TB rule PlanAudit's unbounded-broadcast class encodes,
    // enforced in CI: an explicit broadcast() whose input is not provably
    // bounded (Aggregate/Limit/Deduplicate/localCheckpoint/LocalRelation/
    // nation/region scan) OOMs at scale no matter how green it is on the
    // fixture. Analysis-only — no query executes. Accepted: the declared
    // brute-force twin whose query set IS the corpus.
    val accepted = Set("vector_knn_graph")
    val offenders = entries.filterNot(accepted).filter { name =>
      graft.tools.PlanAudit.hasUnboundedBroadcastHint(plans(name).analyzed)
    }
    assert(offenders.isEmpty,
      s"broadcast hints on unbounded subtrees: ${offenders.mkString(", ")}")
  }

  test("no cross-shaped join over two unbounded inputs (except declared twins)") {
    // the r10 verdict's blind spot, closed in CI: a join with no equality
    // conjunct between its sides plans as CartesianProduct or (with an
    // inequality-only condition like `a.id < b.id`) BroadcastNestedLoopJoin;
    // when BOTH inputs scale with the corpus that is |L|·|R| compute plus
    // an unbounded broadcast — the five r10 ER entries shipped exactly
    // this behind BNLJ because the audit only grepped CartesianProduct.
    // One bounded side is fine (probe-set × corpus is linear, the ANN
    // idiom). Accepted: the declared brute-force twins whose CONTRACT is
    // the exhaustive pair set, each benched apart under Bench.oracleTwins.
    val accepted = Set(
      "dedup_embedding_cosine", "vector_knn_graph", "stream_embedding_dedup_recall",
      "dedup_simhash_witness", "dedup_embedding_lsh_witness", "dedup_semantic_witness")
    val offenders = entries.filterNot(accepted).filter { name =>
      graft.tools.PlanAudit.hasUnboundedCrossShape(plans(name).optimizedPlan)
    }
    assert(offenders.isEmpty,
      s"cross-shaped joins over unbounded inputs: ${offenders.mkString(", ")}")
  }

  test("no small-domain-key join over two unbounded inputs without a hot-key cap") {
    // r12 verdict item 3, enforced in CI: a join whose ENTIRE equality key
    // set is a machine-checkably small fixed domain (masked k-bit
    // extraction, small modulus, LSH band buckets) over two
    // SF-proportional sides is a DISGUISED cross shape — Θ(|L|·|R|/domain)
    // on any corpus, and invisible to the cross-shape class because the
    // join is equi-keyed (exactly the 4-bit hyperplane banding r13
    // replaced). The accepted defense is structural, not a listing: a
    // maxBucket hot-key exclusion on either side (PlanAudit.hotKeyCapped),
    // so the accepted set stays EMPTY — a new offender gets a cap, not an
    // entry here.
    val accepted = Set.empty[String]
    val offenders = entries.filterNot(accepted).filter { name =>
      graft.tools.PlanAudit.hasSmallDomainKeyJoin(plans(name).optimizedPlan)
    }
    assert(offenders.isEmpty,
      s"small-domain-key joins without a cap: ${offenders.mkString(", ")}")
  }

  test("no model-output-key join over two unbounded inputs without a cell cap") {
    // r13 verdict item 2, enforced in CI: a join keyed SOLELY on a
    // clustering/quantizer ASSIGNMENT column (the KMeans prediction — a
    // ScalaUDF, the one black-box column family here) is invisible to the
    // small-domain walk: nothing in the plan says `cluster` has k values,
    // so a fixed-k assignment self-join is Θ(n²/k) with no flag — the old
    // `semanticDroppedIds` shape. The accepted defense is structural
    // (hot-cell cap / bounded side / per-key-bounded aggregate), so the
    // accepted set stays EMPTY — a new offender gets a cap, not an entry
    // here. The witness twin joins embeddings by id (not by cluster), so
    // even the quadratic control never needs an exemption.
    val accepted = Set.empty[String]
    val offenders = entries.filterNot(accepted).filter { name =>
      graft.tools.PlanAudit.hasModelKeyJoin(plans(name).optimizedPlan)
    }
    assert(offenders.isEmpty,
      s"model-output-key joins without a cell cap: ${offenders.mkString(", ")}")
  }

  test("dedup_semantic rides the capped hot-cell path (model-key-gate blind spot pin)") {
    // r14 ADVICE: the entry localCheckpoints its assignment relation, so
    // the hasModelKeyJoin gate can never fire on its plan (the cluster
    // column resolves to a checkpoint scan, not the KMeans ScalaUDF) even
    // if the hot-cell cap were removed. Pin the entry's CONSTRUCTION
    // instead: only the capped semanticDroppedIds/semanticHotCells path
    // yields the `hot_cells_excluded` verdict row, so a rewrite that drops
    // the cap (or bypasses the capped helpers) fails here, in CI, not in
    // the next round's verdict.
    val rows = SparkEntry.queries("dedup_semantic")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.contains("hot_cells_excluded"),
      "dedup_semantic no longer emits the hot-cell-cap verdict row — the " +
        "capped semanticDroppedIds path is the entry's scale contract")
    assert(rows("hot_cells_excluded") == 0L,
      "the fixture must not engage the cap (cap engagement is pinned by " +
        "ScaleSpec's planted mega-cell, not the fixture)")
    assert(rows.get("kept_pair_violations").contains(0L))
  }

  test("unpartitioned windows are restricted to the documented calendar-grain set") {
    // PlanAudit's unpartitioned-window class, enforced in CI the way the
    // broadcast rule already is: a Window with an empty partition spec
    // funnels its whole input through ONE task, which is only acceptable
    // when that input is calendar-bounded (day/month-grain aggregates) —
    // the three documented instances below. Any other entry joining the
    // list is a 100 TB regression, caught here instead of by the next
    // round's verdict diff. Optimized plans, no actions.
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Window => LWindow}
    val accepted = Set("q_cumulative_distinct", "q_seasonality", "q_kaplan_meier",
      // r11 survival/sequence tier: all three run ONE window over the
      // distinct-gap-day / calendar-day relation — the same
      // calendar-bounded input as q_kaplan_meier
      "q_log_rank", "q_nelson_aalen", "q_runs_test",
      // largest-remainder rank over the |o_orderpriority|-row strata
      // aggregate — value-domain-bounded (5 rows at any SF)
      "q_neyman_allocation",
      // r15: tie-aware rank window over DISTINCT nation×month revenue
      // values — calendar-grain (≤ nations × months rows), replacing the
      // old grid×grid crossJoin rank (r14 verdict item 3)
      "q_kruskal_wallis")
    val offenders = entries.filterNot(accepted).filter { name =>
      plans(name).optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case _: GlobalLimit | _: LocalLimit => () }.isEmpty => w
      }.nonEmpty
    }
    assert(offenders.isEmpty,
      s"undocumented unpartitioned windows: ${offenders.mkString(", ")}")
  }

  test("no catalog entry builds a giant (>250 KB) physical plan string") {
    // r11 verdict item 4: the giant-plan audit class was informational
    // only — the r11 sweep fixed every runtime offender (localCheckpoint
    // lineage truncation between unrolled iterative rounds), but nothing
    // stopped a NEW unrolled iterative from reintroducing a 3.6 MB plan
    // (constant-per-run driver CPU + Spark's 262 KB print-ceiling warnings
    // in every bench tail). Enforce it in CI with an EMPTY accepted list:
    // the fix for a new offender is a lineage cut, not a listing.
    val accepted = Set.empty[String]
    val offenders = entries.filterNot(accepted).flatMap { name =>
      val len = plans(name).executedPlan.toString.length
      if (len > 250000) Some(s"$name: $len chars") else None
    }
    assert(offenders.isEmpty, s"giant plans: ${offenders.mkString(", ")}")
  }

  test("quiet-seconds column never reads a contended record") {
    // r10 verdict: the column regenerated from a driver record that
    // self-described `contended: true` and still labeled itself
    // "quiet-box". The source discipline: BENCH_QUIET.json (written only
    // by uncontended runs) wins; a contended BENCH_LOCAL.json alone
    // yields NO data rather than contended data.
    val tmp = java.nio.file.Files.createTempDirectory("graft-quiet")
    java.nio.file.Files.writeString(tmp.resolve("BENCH_LOCAL.json"),
      """{"contended":true,"queries":{"q1_agg":{"min":9.999,"runs":[9.999]}}}""")
    assert(graft.tools.CatalogIndex.quietSeconds(tmp.toString).isEmpty,
      "a contended latest record must not populate the quiet column")
    java.nio.file.Files.writeString(tmp.resolve("BENCH_QUIET.json"),
      """{"contended":false,"queries":{"q1_agg":{"min":1.234,"runs":[1.234]}}}""")
    assert(graft.tools.CatalogIndex.quietSeconds(tmp.toString) == Map("q1_agg" -> 1.234),
      "the quiet record must win over the contended latest record")
    // fallback: with no quiet file yet, an UNCONTENDED latest record is
    // acceptable seed data
    java.nio.file.Files.delete(tmp.resolve("BENCH_QUIET.json"))
    java.nio.file.Files.writeString(tmp.resolve("BENCH_LOCAL.json"),
      """{"contended":false,"queries":{"q1_agg":{"min":2.5,"runs":[2.5]}}}""")
    assert(graft.tools.CatalogIndex.quietSeconds(tmp.toString) == Map("q1_agg" -> 2.5))
  }

  test("CATALOG.md matches a fresh render (generated index is not stale)") {
    // the index is the only navigation aid over 300+ entries in three
    // multi-kLoC files — a stale one misdirects to wrong lines. Committed
    // content must equal a fresh render; fix = `sbt "runMain
    // graft.tools.CatalogIndex"` (Verify/Bench full runs also rewrite it).
    val p = java.nio.file.Paths.get("CATALOG.md")
    assert(java.nio.file.Files.exists(p),
      "CATALOG.md missing — run `sbt \"runMain graft.tools.CatalogIndex\"`")
    val committed = java.nio.file.Files.readString(p)
    val fresh = graft.tools.CatalogIndex.render()
    assert(committed == fresh,
      "CATALOG.md is stale — regenerate with `sbt \"runMain graft.tools.CatalogIndex\"`")
  }
}
