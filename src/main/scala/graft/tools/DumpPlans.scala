package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import scala.util.matching.Regex

/** Writes PLANS.md: formatted physical plans of EVERY SparkEntry query at
  * sf0.001, so plan shape (pushdown, broadcast, partial agg, codegen spans)
  * is reviewable as a committed artifact, not just asserted in PlanSpec.
  *
  * Coverage notes (the r13 VERDICT #3 contract — one section per query id):
  * - Queries whose CONSTRUCTION executes jobs (the ds-series index/model/
  *   shard ingest protocols, g2's refresh, sh1/sh2's shard exports, lm5's
  *   count ingestion) run those jobs here and dump the SERVE / final-read
  *   plan — the executed protocol's plan contracts live in the suite the
  *   query's comment names (DedupSpec, AnnIndexSpec, LmIndexSpec,
  *   SamplingSpec, PlanSpec).
  * - Queries that checkpoint-truncate state during construction (connected
  *   components, the two-level bucket walks of a14/a15/lm6/sm15/e7, BPE
  *   training) show the post-checkpoint assembly; their loop/walk
  *   contracts are spec-asserted.
  * - An "internal shapes" part dumps load-bearing plans execution
  *   otherwise hides: g2's per-round rank join over the CHECKPOINTED
  *   degree-annotated edge list.
  * - A closing "pipeline sinks" part dumps every frame the four pipeline
  *   apps write (`PipelineApps.sinkFrames` over the test fixtures), so the
  *   write path's exchanges are reviewable too.
  *
  * Every plan goes through [[canonical]], so two dumps of the same plans
  * are byte-identical and a PLANS.md diff shows only real plan changes.
  *
  * Usage:
  *   sbt "runMain graft.tools.DumpPlans [outFile]"
  *     writes the whole suite to outFile (default PLANS.md);
  *   sbt "runMain graft.tools.DumpPlans --names <outDir> <suffix> <name>..."
  *     writes <outDir>/<name>_<suffix>.txt per named query — the per-query
  *     before/after plan artifacts an optimization round commits under
  *     plans/rNN/, reviewable in isolation.
  */
object DumpPlans {

  /** `plan` with what changes from run to run made stable:
    *  - expression ids (`#1234L`), RDD ids (`MapPartitionsRDD[700]`) and
    *    exchange `plan_id`s are renumbered from 1 in order of first
    *    appearance;
    *  - lambda class names lose their sequence numbers and hash codes;
    *  - the app id in temp table names (`_local_1792305208203`), the
    *    random number ending a temp directory's name and the checkout path
    *    are masked.
    */
  def canonical(plan: String, checkout: String): String = {
    def renumber(text: String, re: Regex, render: (Regex.Match, Int) => String) = {
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(text, m => Regex.quoteReplacement(
        render(m, ids.getOrElseUpdate(m.group(1), ids.size + 1))))
    }
    val tmp = Regex.quote(System.getProperty("java.io.tmpdir").stripSuffix("/"))
    Seq[String => String](
      renumber(_, """#(\d+)""".r, (_, n) => s"#$n"),
      renumber(_, """\[(\d+)\] at """.r, (_, n) => s"[$n] at "),
      renumber(_, """plan_id=(\d+)""".r, (_, n) => s"plan_id=$n"),
      """Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+""".r.replaceAllIn(_, "Lambda"),
      """(local[-_])\d{10,}""".r.replaceAllIn(_, "$1<app>"),
      s"""($tmp/[\\w.-]*?)\\d+(?![\\w.-])""".r.replaceAllIn(_, "$1<tmp>"),
      _.replace(checkout, "<checkout>")
    ).foldLeft(plan)((text, step) => step(text))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.configure(
      SparkSession.builder().appName("graft-plans").master("local[4]"),
      shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.001"
    val checkout = System.getProperty("user.dir")
    def planText(planOf: () => org.apache.spark.sql.DataFrame): String = {
      graft.core.Storage.freeAll(spark, blocking = true)
      canonical(
        try planOf().queryExecution
          .explainString(ExplainMode.fromString("formatted")).trim
        catch {
          case e: Throwable =>
            s"PLAN UNAVAILABLE: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }, checkout)
    }
    try args.toSeq match {
      case "--names" +: outDir +: suffix +: names if names.nonEmpty =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val text = s"## $name ($suffix, sf0.001)\n\n```\n" +
            planText(() => SparkEntry.queries(name)(spark, sf)) + "\n```\n"
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), text)
          println(s"wrote $outDir/${name}_$suffix.txt")
        }
      case Seq("--names", _*) =>
        sys.error("usage: DumpPlans --names <outDir> <suffix> <name>...")
      case _ => writeSuite(args.headOption.getOrElse("PLANS.md"), spark, sf, planText)
    } finally spark.stop()
  }

  private def writeSuite(out: String, spark: SparkSession, sf: String,
                         planText: (() => org.apache.spark.sql.DataFrame) => String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.DumpPlans, sf0.001)\n\n")
    sb.append("What to look for: `PushedFilters`/`ReadSchema` on scans, " +
      "`BroadcastHashJoin` on dimension joins, paired `HashAggregate` " +
      "(partial+final), `TakeOrderedAndProject` for top-k, and whole-stage " +
      "codegen `*(n)` spans. PlanSpec asserts these; this file makes them " +
      "reviewable.\n\n")
    sb.append("Every SparkEntry query has a section. For the ds-series / " +
      "index-lifecycle queries, CONSTRUCTING the frame executes the ingest " +
      "protocol, so the dump shows the SERVE / final-read plan (the " +
      "protocol's own plan contracts are spec-asserted); likewise the " +
      "two-level bucket walks (a14/a15/lm6/sm15/e7/...) and component " +
      "loops show their post-checkpoint assembly. The closing 'internal " +
      "shapes' part dumps the load-bearing plans execution hides.\n")
    def section(name: String, planOf: () => org.apache.spark.sql.DataFrame): Unit =
      sb.append(s"\n## $name\n\n```\n").append(planText(planOf)).append("\n```\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      section(name, () => fn(spark, sf))
    }
    sb.append("\n# Internal shapes (execution hides these in the sections above)\n")
    section("g2_authority_refresh/per-round-rank-join", () =>
      graft.operators.GraphOps.pageRankRoundForPlan(
        graft.core.Tables.documents(spark, sf), "doc_id", "text", 3))
    // the d29 section above truncates at the result checkpoint; this probe
    // keeps full lineage so the candidate join's size + PPJoin positional
    // predicates (round 20) are reviewable
    section("d29_prefix_filter_pairs/pipeline-uncheckpointed", () =>
      graft.operators.Dedup.prefixFilterPipeline(
        graft.core.Tables.documents(spark, sf), "doc_id", "text", 3, 0.5,
        checkpoint = false))
    sb.append("\n# Pipeline sinks (what the pipeline apps write, over the test " +
      "fixtures, stamped with `run_date` as `PipelineApps.load` stamps it)\n")
    val fixtures = graft.apps.PipelineApps.Args(
      s"${System.getProperty("user.dir")}/src/test/resources/fixtures", "",
      java.time.LocalDate.parse("2026-08-14"))
    graft.apps.PipelineApps.sinkFrames(spark, fixtures).foreach { case (table, df) =>
      section(s"sink/$table", () => df)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
  }
}
