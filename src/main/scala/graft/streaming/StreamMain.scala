package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.operators.Pipeline

/** Production streaming entry: the spark-submit composition of the streamed
  * route (parse -> per-batch routed sinks, then the W3 lifecycle MERGE
  * into one resolved attacks sink, see
  * [[StreamingPipeline.writeRoutedBatch]]) plus the exact per-sink
  * distinct-conversation counts maintained as idempotent per-batch pair
  * state ([[StreamingPipeline.exactConvPairsBatch]]) — the streamed
  * analog of `scripts/submit.sh Bench`'s batch route. Reference contrast:
  * the plugin's runtime loop is one blocking thread per socket
  * (bbn_f5networks.rb:142-202); here one checkpointed Structured Streaming
  * query restarts exactly-once from its sinks.
  *
  * Usage (see scripts/submit.sh):
  *   streaming.StreamMain <sourceDir> <outRoot> [--drain]
  *
  * `sourceDir` is a parquet transcripts directory watched as a file stream
  * (the sandbox stand-in for the socket ingress; the live-socket path is
  * spec-verified in StreamingSpec). The checkpoint and the exact-counts
  * state live under `outRoot/_checkpoints` and `outRoot/_convpairs`.
  * `--drain` processes everything currently available and exits
  * (smoke/test mode); without it the query runs until terminated.
  */
object StreamMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamMain <sourceDir> <outRoot> [--drain]")
    val spark = graft.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      "graft-stream")
    try run(spark, args(0), args(1), drain = args.contains("--drain"))
    finally spark.stop()
  }

  /** Start (and optionally drain) the one query: each micro-batch is parsed
    * once, persisted, routed, and its non-`_stop` rows feed the conv-pair
    * state. The pair state is compacted before the query starts and after a
    * drain stop, so a restart or a drain leaves one directory of it, not one
    * per batch. Split from main so specs drive it under the shared test
    * session.
    */
  def run(spark: SparkSession, sourceDir: String, outRoot: String,
          drain: Boolean): Unit = {
    val pairs = s"$outRoot/_convpairs"
    StreamingPipeline.compactConvPairs(spark, pairs)
    val q = StreamingPipeline.startStream(spark, sourceDir, s"$outRoot/_checkpoints/route") {
      (batch, batchId) =>
        val b = batch.persist()
        try {
          StreamingPipeline.writeRoutedBatch(outRoot)(b, batchId)
          StreamingPipeline.exactConvPairsBatch(pairs)(
            b.filter(col("record_type") =!= Pipeline.Stop), batchId)
        } finally b.unpersist()
    }
    if (drain) {
      q.processAllAvailable(); q.stop()
      StreamingPipeline.compactConvPairs(spark, pairs)
    } else q.awaitTermination()
  }
}
