package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bucketing, Pipeline}

/** Bucketed co-location: the attack-keyed join over bucketed tables must
  * carry NO shuffle on the fact sides (bucket-aligned scan feeds the join
  * and the partial aggregate directly).
  */
class BucketingSpec extends SparkSpec {

  test("bucketed attack_id join plans without an exchange on the bucketed sides") {
    val dir = "/root/testdata/sf0.001"
    val t = Pipeline.transcriptsClean(spark, dir)
    val offsets = graft.sources.Transcripts.utcOffsets(spark)
    def family(f: String) =
      Pipeline.explodedAll(t, offsets, Set(f)).filter(col("attack_id") =!= 0L)
    val attacks = family(Pipeline.Attacks)
    val stats = family(Pipeline.Stats)
    Bucketing.persistBucketed(spark, attacks, stats)

    val rollup = Bucketing.bucketedRollup(spark)
    val plan = rollup.queryExecution.executedPlan.toString()
    // the only acceptable exchanges would be AQE artifacts; a bucket-
    // aligned join has none on the scan->join path
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle in bucketed join plan:\n${plan.take(3000)}")

    // and the result matches the unbucketed computation
    val direct = attacks.select("attack_id", "attack_name", "attack_ongoing")
      .join(stats.groupBy("attack_id")
        .agg(count("*").as("n_samples"), sum("attack_drop_rate").as("total_drop")),
        Seq("attack_id"))
    assert(rollup.count() == direct.count())
    assert(rollup.except(direct).count() == 0)
  }
}
