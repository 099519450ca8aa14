package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** Diagnostic main: formatted physical plans, so plan regressions (lost
  * pushdown, surprise shuffles, dropped broadcasts, codegen breaks) are
  * visible without running the queries. Each plan is followed by one line
  * per whole-stage-codegen stage (`codegenStages`), so a stage that falls
  * out of codegen or whose largest method crosses HotSpot's 8,000-byte JIT
  * limit shows in a `scripts/plandiff.sh` diff.
  *
  * Usage: runMain graft.Plans <sfDir>
  *          prints the load-bearing queries' plans to stdout;
  *        runMain graft.Plans <sfDir> <outDir> <tag> [query ...]
  *          writes <outDir>/<query>_<tag>.txt for the given declared
  *          queries (default: all), e.g. before/after plan pairs.
  * Env: SPARK_GRAFT_CPUS (default 8) — master local[N], shuffle.partitions=N.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    // print every field of the ~50-field branch structs: at the default (25)
    // the rest prints as `... N more fields` and an A/B diff cannot see it
    spark.conf.set("spark.sql.debug.maxToStringFields", 100000)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def query(q: String): () => DataFrame = () => SparkEntry.queries(q)(spark, dir)
    def plan(df: DataFrame): String =
      (df.queryExecution.explainString(FormattedMode) +: codegenStages(df).map(_.line))
        .mkString("", "\n", "\n")

    if (args.length >= 3) {
      val (outDir, tag, wanted) = (args(1), args(2), args.drop(3))
      Files.createDirectories(Paths.get(outDir))
      SparkEntry.queries.keys.toSeq.sorted.filter(n => wanted.isEmpty || wanted.contains(n))
        .foreach { n =>
          Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan(query(n)()))
          println(s"wrote $outDir/${n}_$tag.txt")
        }
    } else {
      val curated: Seq[(String, () => DataFrame)] = Seq(
        "records (single-pass parse->route)" -> (() => operators.Pipeline.records(spark, dir)),
        "attacksCorrelated (pruned branches + narrow facts scan)" ->
          (() => operators.Pipeline.attacksCorrelated(spark, dir)),
        "q15 attackRollup (one scan, window aggregates)" ->
          (() => operators.Pipeline.attackRollup(spark, dir))) ++ Seq(
        "q08_sink_counts" -> "", "q09_agg_facility" -> "", "q26_minhash_lsh" -> "",
        "q27_ann_brute" -> "", "q45_ivf_ann" -> " (frozen quantizer serving path)",
        "q71_dup_spans" -> " (positional index + island merge)",
        "q72_strip_spans" -> " (span-removal rebuild)",
        "q73_lm_score" -> " (stupid-backoff joins + ordered fold)",
        "q77_dsir_weights" -> " (broadcast count vectors)",
        "q79_curriculum" -> " (two-level rank)").map { case (q, note) => (q + note) -> query(q) }
      curated.foreach { case (name, df) =>
        println(s"\n========== $name ==========")
        println(plan(df()))
      }
    }
    spark.stop()
  }

  /** HotSpot's `HugeMethodLimit`: a method with more bytecode than this is
    * never JIT-compiled, so it runs interpreted however hot it gets.
    */
  val HugeMethodLimit = 8000

  /** One whole-stage-codegen stage: its id, its largest generated method
    * (bytes of bytecode) and its first operator.
    */
  final case class CodegenStage(id: Int, maxMethodBytes: Int, firstOp: String) {
    def line: String = s"codegen stage $id: max method $maxMethodBytes B, first $firstOp" +
      (if (maxMethodBytes > HugeMethodLimit) s" (over the $HugeMethodLimit B JIT limit)" else "")
  }

  private val StageHead = """^\*\((\d+)\) (\w+)""".r

  /** The codegen stages of `df`'s plan as planned with AQE off, each
    * compiled for its bytecode size. AQE collapses codegen stages only as
    * it runs each query stage, so an adaptive plan that has not run has
    * none to show.
    *
    * A stage's byte count can differ by a few bytes between JVMs on the
    * same plan. When a hash aggregate splits each aggregate function into
    * its own method (`spark.sql.codegen.aggregate.splitAggregateFunc.enabled`,
    * on by default), Spark takes the method's parameters from
    * `CodeGenerator.getLocalInputVariableValues`, an unordered Set of
    * `VariableValue(name, javaType)`, whose hash includes the identity hash
    * of a `java.lang.Class`. The parameter order, hence which locals get
    * the one-byte load slots (0-3), follows that hash: q24_simhash's
    * stage 2 reads 288 B when `hashAgg_doAggregate_sum_0`'s row buffer
    * follows the long into local slot 3 (`aload_3`) and 293 B when it
    * comes third or fourth. Nothing in this build feeds that order.
    */
  def codegenStages(df: DataFrame): Seq[CodegenStage] = {
    val spark = df.sparkSession
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try codegenStringSeq(spark.sessionState.executePlan(df.queryExecution.logical).executedPlan)
      .map { case (subtree, _, stats) =>
        val head = subtree.linesIterator.next()
        val m = StageHead.findFirstMatchIn(head)
          .getOrElse(sys.error(s"not a codegen stage head: $head"))
        CodegenStage(m.group(1).toInt, stats.maxMethodCodeSize, m.group(2))
      }
    finally spark.conf.set(aqe, was)
  }
}
