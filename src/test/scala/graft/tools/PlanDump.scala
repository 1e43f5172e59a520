package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{GraftSession, SparkEntry}

/** Behaviour-freeze probe for catalog refactors:
  * `Test/runMain graft.tools.PlanDump <outDir> [substring]` builds every
  * catalog entry (or those whose name contains `substring`) against
  * `SPARK_GRAFT_SF_DIR` (default sf0.001) and writes
  *
  *  - `<outDir>/oracle_sql.sha256`: one SHA-256 over the sorted
  *    `name \0 sql \n` pairs of `SparkEntry.oracleSql`;
  *  - `<outDir>/<name>.sql`: each entry's oracle SQL, for locating a
  *    hash mismatch (a `substring` no name contains writes only these);
  *  - `<outDir>/<name>.plan`: the entry's canonicalized optimized logical
  *    plan (`optimizedPlan.canonicalized.treeString`) with the identifiers
  *    a session assigns made neutral ([[normalize]]);
  *  - `<outDir>/<name>.ops`: the pre-execution physical plan's operator
  *    classes in pre-order, descending through adaptive and query-stage
  *    wrappers.
  *
  * Run it on the parent commit and on the change, then `diff -r` the two
  * directories. The cache is cleared between entries, so no entry's plan
  * reads a relation another entry persisted.
  */
object PlanDump extends AdaptiveSparkPlanHelper {

  def oracleSqlSha256: String = {
    val md = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\u0000$sql\n".getBytes(UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Canonicalization leaves some per-session identifiers in the text: the
    * expression ids inside a persisted relation's cached physical plan,
    * exchange `plan_id`s, query-stage numbers and lambda class names. The
    * ids are renumbered in order of first appearance; the rest become
    * fixed tokens.
    */
  def normalize(plan: String): String = {
    val ids = scala.collection.mutable.Map.empty[String, Int]
    val renumbered =
      "#(\\d+)".r.replaceAllIn(plan, m => "#" + ids.getOrElseUpdate(m.group(1), ids.size))
    Seq("plan_id=\\d+" -> "plan_id=N", "QueryStage \\d+" -> "QueryStage N",
        "\\$\\$Lambda[$/0-9a-fx]*@[0-9a-f]+" -> "\\$\\$Lambda", "@[0-9a-f]{5,}" -> "@H")
      .foldLeft(renumbered) { case (t, (re, to)) => t.replaceAll(re, to) }
  }

  def operatorClasses(plan: SparkPlan): Seq[String] =
    collect(plan) { case p => p.getClass.getSimpleName }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val filter = args.lift(1).getOrElse("")
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.sha256"), oracleSqlSha256 + "\n")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      Files.writeString(out.resolve(s"$name.sql"), sql)
    }
    val spark = GraftSession.getOrCreate("local[4]", 4, quietAcceptedWarnings = true)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    for (name <- SparkEntry.queries.keys.toSeq.sorted if name.contains(filter)) {
      spark.catalog.clearCache()
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      Files.writeString(out.resolve(s"$name.plan"),
        normalize(qe.optimizedPlan.canonicalized.treeString))
      Files.writeString(out.resolve(s"$name.ops"),
        operatorClasses(qe.executedPlan).mkString("\n") + "\n")
    }
    spark.stop()
  }
}
