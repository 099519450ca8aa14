package graft

import graft.operators.{Pipeline, Router}

/** The MERGE-shaped routed write must equal the pure-DataFrame records()
  * (same rows, same lifecycle resolution) — they are two physical plans for
  * one logical result.
  */
class RouterSpec extends SparkSpec {

  test("Router.route sinks equal Pipeline.records including lifecycle fields") {
    val dir = "/root/testdata/sf0.001"
    val out = tmpDir("graft-router")
    Router.route(spark, dir, out)
    val routed = Router.readRouted(spark, out)
    val direct = Pipeline.records(spark, dir)

    assert(routed.count() == direct.count())
    val key = Seq("record_type", "conv_id", "turn_idx", "attack_id",
      "attack_ongoing", "attack_end_date", "remote_log_payload")
    val a = routed.select(key.head, key.tail: _*)
    val b = direct.select(key.head, key.tail: _*)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("severity is a sink fan-out axis: attacks partition dirs + pruned reads") {
    val dir = "/root/testdata/sf0.001"
    val out = tmpDir("graft-router-sev")
    Router.route(spark, dir, out)

    // per-severity directories exist under every attacks tool sink
    import scala.jdk.CollectionConverters._
    def names(p: java.nio.file.Path): Seq[String] =
      scala.util.Using.resource(java.nio.file.Files.list(p))(
        _.iterator().asScala.map(_.getFileName.toString).toList)
    val attacksDir = java.nio.file.Paths.get(out, "record_type=attacks")
    val toolDirs = names(attacksDir).filter(_.startsWith("tool=")).map(attacksDir.resolve)
    assert(toolDirs.nonEmpty)
    val sevDirs = toolDirs.flatMap(t => names(t).filter(_.startsWith("attack_severity=")))
    assert(sevDirs.nonEmpty, "no attack_severity= partition dirs under attacks sinks")

    // a severity predicate on the attacks family prunes PARTITIONS
    val atk = spark.read.parquet(s"$out/record_type=attacks")
      .filter(org.apache.spark.sql.functions.col("attack_severity") === 2)
    val atkPlan = atk.queryExecution.executedPlan.toString()
    assert(atkPlan.contains("PartitionFilters") && atkPlan.contains("attack_severity"),
      s"expected severity partition pruning:\n${atkPlan.take(1500)}")

    // the stats family (severity not a dir axis there: null for some rows)
    // still pushes the predicate to the scan, where the severity-clustered
    // row groups (staged sortWithinPartitions) let min/max stats skip
    val st = spark.read.parquet(s"$out/record_type=attack_mitigation_stats")
      .filter(org.apache.spark.sql.functions.col("attack_severity") === 2)
    val stPlan = st.queryExecution.executedPlan.toString()
    assert(stPlan.contains("PushedFilters") && stPlan.contains("attack_severity"),
      s"expected severity filter pushdown:\n${stPlan.take(1500)}")
  }
}
