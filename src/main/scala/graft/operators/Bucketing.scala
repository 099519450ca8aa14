package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table co-location: persist the routed families bucketed by
  * attack_id so repeated attack-keyed joins (lifecycle audits, rollups,
  * incident drill-downs) run WITHOUT a shuffle on either side — at 100 TB
  * the difference between an exchange of the whole fact table per query
  * and a zero-exchange sort-merge join against pre-sorted buckets.
  */
object Bucketing {

  /** Persist attacks + stats as bucketed managed tables (in-session
    * catalog; a production deployment points spark.sql.warehouse.dir at
    * shared storage or uses an Iceberg catalog with a bucket transform).
    */
  def persistBucketed(spark: SparkSession, attacks: DataFrame, stats: DataFrame,
                      buckets: Int = 16): Unit = {
    // an in-memory catalog forgets tables across sessions but their
    // warehouse locations persist; clear both or CTAS refuses the location
    Seq("attacks_bucketed", "stats_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      Router.rmrf(loc)
    }
    attacks.write.mode("overwrite")
      .bucketBy(buckets, "attack_id").sortBy("attack_id")
      .saveAsTable("attacks_bucketed")
    stats.write.mode("overwrite")
      .bucketBy(buckets, "attack_id").sortBy("attack_id")
      .saveAsTable("stats_bucketed")
  }

  /** Attack-keyed join over the bucketed tables: both sides read in bucket
    * order, no Exchange in the plan (asserted in BucketingSpec).
    */
  def bucketedRollup(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val attacks = spark.table("attacks_bucketed")
      .select(col("attack_id"), col("attack_name"), col("attack_ongoing"))
    val stats = spark.table("stats_bucketed")
      .groupBy("attack_id")
      .agg(count("*").as("n_samples"), sum("attack_drop_rate").as("total_drop"))
    attacks.join(stats, Seq("attack_id"))
  }
}
