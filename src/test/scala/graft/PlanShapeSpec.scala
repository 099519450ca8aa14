package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, StringSplit}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter, ProjectExec,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.functions.{KvExtract, KvSlotsExtract}
import graft.operators.{Pipeline, Router}

/** Plan-shape pins for the parse pipeline: the scan count and the explode
  * branch count are the two levers behind the r2->r3 4-30x query speedups
  * (family pruning + narrow lifecycle facts), so regressions must fail a
  * spec, not wait for a bench run.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  /** Number of parquet scans in the physical plan (the transcripts store is
    * the only parquet input on these paths; dims are local relations).
    */
  private def nParquetScans(df: DataFrame): Int =
    "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).size

  /** Branch-array sizes of every E1 explode in the optimized plan. */
  private def explodeBranchCounts(df: DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collect {
      case g: Generate =>
        g.generator.collectFirst { case c: CreateArray => c.children.size }
    }.flatten

  test("q15 rollup: ONE transcript scan feeds both rollup sides (no second parse)") {
    val df = Pipeline.attackRollup(spark, dir)
    assert(nParquetScans(df) == 1,
      s"expected a single transcript scan:\n${df.queryExecution.executedPlan.toString.take(3000)}")
    // window aggregates over attacks+stats branches only
    assert(explodeBranchCounts(df) == Seq(4 + 3))
  }

  test("family pruning: single-family consumers render only their own branch structs") {
    // full records(): 8 routed branches (attacks 4, stats 3, traffic 1);
    // lifecycle facts add a second explode of 6 start/stop probes
    assert(explodeBranchCounts(Pipeline.records(spark, dir)).sorted == Seq(6, 8))
    // stats-only: 3 branches, no lifecycle facts scan
    val stats = Pipeline.statsRecords(spark, dir)
    assert(explodeBranchCounts(stats) == Seq(3))
    assert(nParquetScans(stats) == 1)
    // traffic-only: 1 branch, one scan
    val traffic = Pipeline.trafficRecords(spark, dir)
    assert(explodeBranchCounts(traffic) == Seq(1))
    assert(nParquetScans(traffic) == 1)
    // attacks: 4 branches + the 6-probe facts explode, two scans BY DESIGN
    // (the facts re-scan parses three keys instead of re-rendering the
    // 50-column structs — Router.route stages instead and re-reads columns)
    val atk = Pipeline.attacksCorrelated(spark, dir)
    assert(explodeBranchCounts(atk).sorted == Seq(4, 6))
    assert(nParquetScans(atk) == 2)
  }

  test("q12 rejects: one KV scan and one split, under a CASE over attributes") {
    // the reason CASE reads the typed scan and the CEF split as named
    // columns; a Filter substituted through them would carry the scan once
    // per arm that reads it (and the Project a second copy)
    val plan = SparkEntry.queries("q12_rejects")(spark, dir).queryExecution.optimizedPlan
    def count(p: Expression => Boolean): Int =
      plan.collect { case n => n.expressions.map(_.collect { case e if p(e) => e }.size).sum }.sum
    assert(count(e => e.isInstanceOf[KvSlotsExtract] || e.isInstanceOf[KvExtract]) == 1, plan)
    assert(count(_.isInstanceOf[StringSplit]) == 1, plan)
  }

  test("codegen guard: the route's parse base is one compiled stage; no method over 8,000 bytes") {
    // AQE off: an adaptive plan collapses its codegen stages only as it runs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Router.exploded(spark, dir, 1, graft.sources.TranscriptStore)
      val plan = spark.sessionState.executePlan(df.queryExecution.logical).executedPlan
      val gen = plan.collect { case g: GenerateExec => g }
      assert(gen.size == 1, plan)
      // parsedBase: every Project/Filter between the scan and the render's
      // Generate, short of an exchange (the broadcast sides are own stages)
      def upToExchange(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: Exchange => Nil
        case _ => p +: p.children.flatMap(upToExchange)
      }
      val base = upToExchange(gen.head.child).collect { case p @ (_: ProjectExec | _: FilterExec) => p }
      assert(base.exists(_.expressions.exists(_.exists(_.isInstanceOf[KvSlotsExtract]))), plan)
      val stage = gen.head.child match {
        case w: WholeStageCodegenExec =>
          def within(p: SparkPlan): Seq[SparkPlan] = p match {
            case _: InputAdapter => Nil
            case _ => p +: p.children.flatMap(within)
          }
          within(w.child)
        case other => fail(s"the Generate reads an uncompiled ${other.nodeName}:\n$plan")
      }
      base.foreach(b => assert(stage.exists(_ eq b), s"outside the parse base's stage: $b\n$plan"))
      val fallback = base.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e }))
      assert(fallback.isEmpty, fallback)
      // a generated method over HotSpot's HugeMethodLimit is never JIT-compiled
      val stages = Plans.codegenStages(df)
      assert(stages.nonEmpty)
      stages.foreach(s =>
        assert(s.maxMethodBytes > 0 && s.maxMethodBytes <= Plans.HugeMethodLimit, s.line))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("lifecycle join resolves as broadcast: the wide records never shuffle") {
    // the per-attack lifecycle aggregate is tiny (episodes, not turns) —
    // it must land as a broadcast join; a change that turned this into a
    // SortMergeJoin would shuffle the full-width records (the r2 q11
    // regression class). Execute so the adaptive plan is FINAL.
    def assertBroadcast(df: DataFrame): Unit = {
      df.write.mode("overwrite").format("noop").save()
      val finalPlan = df.queryExecution.executedPlan
      val plan = finalPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"lifecycle join is not broadcast:\n${plan.take(3000)}")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"wide records are being shuffled for a join:\n${plan.take(3000)}")
      // the streamed (records) side of every broadcast join reads its rows
      // without a hash exchange; only the aggregate's build side may shuffle
      val streamed = collect(finalPlan) {
        case j: BroadcastHashJoinExec => if (j.buildSide == BuildRight) j.left else j.right
      }
      assert(streamed.nonEmpty)
      streamed.foreach(s => assert(!s.toString.contains("Exchange hashpartitioning"),
        s"hash exchange on the streamed side of a broadcast join:\n${s.toString.take(3000)}"))
    }
    // batch: the records() path behind q05/q11
    assertBroadcast(Pipeline.attacksCorrelated(spark, dir))
    // streaming: the resolve over a routed micro-batch's attacks and stops
    import graft.streaming.StreamingPipeline
    val outPath = tmpDir("graft-resolve-join")
    StreamingPipeline.writeRoutedBatch(outPath)(StreamingPipeline.streamRecordsAll(spark,
      graft.sources.TranscriptStore.table(spark, dir)), 0L)
    assertBroadcast(StreamingPipeline.resolveFrame(spark, outPath))
  }

  test("streamed resolve prunes both scans to the attacks and _stop directories") {
    import graft.streaming.StreamingPipeline
    val outPath = tmpDir("graft-resolve-plan")
    StreamingPipeline.writeRoutedBatch(outPath)(StreamingPipeline.streamRecordsAll(spark,
      graft.sources.TranscriptStore.table(spark, dir)), 0L)
    val plan = StreamingPipeline.resolveFrame(spark, outPath).queryExecution.executedPlan.toString
    // both scans of the batch-id sinks (the attacks rows and the lifecycle
    // facts) must carry PARTITION filters on record_type: the resolve runs
    // once per micro-batch over the whole history, and an unpruned scan
    // would open every stats and traffic file routed so far
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.size == 2, s"expected two scans:\n${plan.take(3000)}")
    scans.foreach { l =>
      assert("""PartitionFilters: \[[^\]]*record_type""".r.findFirstIn(l).isDefined,
        s"a resolve scan without a record_type partition filter:\n${plan.take(3000)}")
    }
  }

  test("curriculum rank: the quality expression never reappears under an inferred isnotnull") {
    // without the persist barrier, the offsets join's inferred
    // isnotnull(qm_score) substitutes through the alias and evaluates the
    // WHOLE quality expression in a Filter below the repartition — on the
    // single input split (the shingleIndex 138s lesson). Fixed shape: the
    // only isnotnull is over the cached attribute, so no plan line may
    // carry the trap signature (isnotnull over the raw text expression).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(4)
    val plan = graft.operators.SampleOps.curriculumOrder(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
      l.contains("isnotnull") && l.contains("split(text")),
      s"quality expression pushed under isnotnull:\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan"), "persist barrier missing")
    graft.operators.Intermediates.release(spark)
  }

  test("AQE and its skew-join re-plan are active in the session the pipeline runs under") {
    // cosineDupPairs' hot-bucket fan-out and the lifecycle join rely on
    // runtime re-planning; pin the confs so a builder change can't
    // silently disable them (they are also Spark 4 defaults)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }
}
