package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.operators.{Pipeline, Router}
import graft.sources.Transcripts

/** Structured Streaming variant of the pipeline (SURVEY.md §2.9).
  *
  * The stateless parse/normalize/explode is the SAME code as batch
  * (Pipeline.explodedAll — readStream swaps in transparently because the
  * plan is narrow), and so is the W3 lifecycle rule: batch broadcasts the
  * per-episode aggregate (Pipeline.lifeAggOf) into a join with the attacks
  * rows, and the routed stream writes each micro-batch, its attacks and
  * stops included, to its own `batch_id=` directory, then re-runs Router's
  * MERGE (Pipeline.lifecycleMerge) over every batch's attacks and `_stop`
  * directories into one resolved attacks sink (routeStream).
  * The MERGE counts starts and stops over everything routed so far, so the
  * result does not depend on arrival order: a stop routed before its start
  * still closes it. Streaming also aggregates with watermarked windows (W1).
  */
object StreamingPipeline {

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** File-based streaming source over a transcripts parquet directory. */
  def streamTranscripts(spark: SparkSession, path: String): DataFrame = {
    Pipeline.configure(spark)
    spark.readStream.schema(transcriptSchema).parquet(path)
  }

  /** Streaming parse->explode INCLUDING the internal `_stop` rows (the
    * lifecycle facts the routed writer correlates per batch — the batch
    * analog is Router.route's staged `_stop` partition).
    */
  def streamRecordsAll(spark: SparkSession, transcripts: DataFrame): DataFrame = {
    val clean = Pipeline.healthFilter(transcripts, Transcripts.healthStrings(spark))
    Pipeline.explodedAll(clean, Transcripts.utcOffsets(spark))
  }

  /** Streaming parse->explode: identical operator graph to batch. */
  def streamRecords(spark: SparkSession, transcripts: DataFrame): DataFrame =
    streamRecordsAll(spark, transcripts).filter(col("record_type") =!= "_stop")

  /** W1: per-sink windowed aggregates with late-data handling — counts and
    * approximate distinct conversations per (1-minute window, record_type,
    * facility, severity). Exact countDistinct is not available under
    * watermarked append mode; HLL is the documented cheap variant
    * (SURVEY.md §2.7).
    */
  def sinkCounts(records: DataFrame, watermark: String = "10 minutes"): DataFrame =
    records
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("record_type"),
        col("facility"), col("severity"))
      .agg(count("*").as("n_rows"),
        approx_count_distinct("conv_id").as("n_convs_approx"))

  /** EXACT streaming distinct-conv counts, the foreachBatch-maintained
    * state-table variant of sinkCounts (whose approx_count_distinct stays
    * the recommended default — HLL state is O(registers), this is
    * O(distinct pairs)). Each micro-batch writes its DISTINCT
    * (window, sink-group, conv_id) pairs into its own `batch_id=<id>`
    * directory with overwrite — the same idempotent-replay contract as
    * writeBatch — and the read side counts distinct conv_ids over all
    * batches. Replays rewrite their own partition and countDistinct
    * dedups across batches, so the counts are exactly-once without any
    * cross-batch anti-join in the hot path. At scale the state table is
    * an Iceberg table compacted by a maintenance job; the per-batch
    * append stays a narrow distinct of the batch.
    */
  def exactConvPairsBatch(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    batch
      .select(window(col("ts"), "1 minute").getField("start").as("window_start"),
        col("record_type"), col("facility"), col("severity"), col("conv_id"))
      .distinct()
      .write.mode("overwrite").parquet(s"$stateDir/batch_id=$batchId")

  /** Exact per-sink distinct-conv counts over the maintained pair state. */
  def exactSinkCounts(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(stateDir)
      .groupBy("window_start", "record_type", "facility", "severity")
      .agg(countDistinct(col("conv_id")).as("n_convs"))

  /** Maintenance compaction for the pair state: fold every batch directory
    * present at call time into ONE distinct-pair directory and drop the
    * originals — the job that keeps the state's file count O(1) instead of
    * O(batches) over a stream's life (the read side lists every dir).
    * StreamMain runs it before its query starts and after a drain stop,
    * the two points where no batch is writing.
    *
    * Crash-safe by the same dedup that makes the counts exact: the
    * compacted dir only becomes visible at its _SUCCESS commit (before
    * that, only a hidden _temporary subtree exists), and until the source
    * dirs are deleted the pairs are merely DUPLICATED across compact +
    * originals — countDistinct dedups, so every crash window reads
    * correct; re-running converges. Batches arriving concurrently are
    * untouched (only the dirs listed at entry are folded). The compact
    * dir's partition value is non-numeric, so `batch_id` infers as string
    * afterwards — the count query never reads it.
    *
    * The target name carries a GENERATION suffix (`compact-<epoch>g<n>`)
    * strictly above every existing compact dir's, so the output path is
    * never one of the inputs — a replayed batch older than a prior
    * compact would otherwise make the fold read and overwrite the same
    * directory, which Spark rejects.
    */
  def compactConvPairs(spark: SparkSession, stateDir: String): Unit = {
    val dirs = dirsUnder(Paths.get(stateDir), "batch_id=")
    if (dirs.size < 2) return
    val names = dirs.map(_.getFileName.toString.stripPrefix("batch_id="))
    val epoch = names.map(_.stripPrefix("compact-").takeWhile(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong).max
    val gen = names.filter(_.startsWith("compact-"))
      .map(_.dropWhile(_ != 'g').drop(1)).filter(_.nonEmpty)
      .map(_.toLong).maxOption.getOrElse(0L) + 1
    spark.read.parquet(dirs.map(_.toString): _*)
      .distinct()
      .write.mode("overwrite").parquet(s"$stateDir/batch_id=compact-${epoch}g$gen")
    dirs.foreach(d => Router.rmrf(d))
  }

  /** Idempotent per-batch sink write: each micro-batch lands in its own
    * `batch_id=<id>` partition directory with mode=overwrite, so a batch
    * REPLAYED after a sink-side crash (checkpoint committed the offsets but
    * the write half-finished, or vice versa) rewrites the same directory
    * instead of appending duplicates. Checkpoint replay + idempotent write
    * = exactly-once sink contents; a blind mode(append) under the same
    * checkpoint is only at-least-once. Reference contrast:
    * bbn_f5networks.rb:120-139 retries with data loss and no replay
    * protection at all — this hardening is the north rule's resume
    * contract, not reference parity.
    */
  def writeBatch(outRoot: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").partitionBy("record_type")
      .parquet(s"$outRoot/batch_id=$batchId")

  /** The streamed resolve frame: Router's MERGE (Pipeline.lifecycleMerge)
    * over every batch's attacks and `_stop` rows, behind a PARTITION FILTER
    * on record_type, so it opens no stats or traffic file (PlanShapeSpec).
    */
  def resolveFrame(spark: SparkSession, outRoot: String): DataFrame =
    Pipeline.lifecycleMerge(spark.read.parquet(outRoot)
      .filter(col("record_type").isin(Pipeline.Attacks, Pipeline.Stop))
      .drop("batch_id"))

  /** Overwrite the resolved attacks sink with resolveFrame, as each stop
    * re-updated its stored attack in the reference (bbn_syslog.rb:271-324).
    * The work grows with the attacks and stops routed so far. Idempotent: a
    * replayed batch rewrites its own directory first, then the same result.
    */
  def resolveAttacks(spark: SparkSession, outRoot: String): Unit =
    resolveFrame(spark, outRoot)
      .write.mode("overwrite").parquet(s"$outRoot/_resolved/record_type=attacks")

  /** The routed-sink batch writer (the streaming analog of Router.route):
    * writeBatch lands every family, `_stop` rows included, in the batch's
    * own `batch_id=<id>` directory, then resolveAttacks re-runs Router's
    * MERGE, so a stop in batch N closes an attack routed in batch N-k and
    * the output converges to Router.route's. A raw read of `outRoot` also
    * sees unresolved attacks and `_stop` rows; readRoutedStream is the
    * reader.
    */
  def writeRoutedBatch(outRoot: String)(batch: DataFrame, batchId: Long): Unit = {
    writeBatch(outRoot)(batch, batchId)
    // an empty batch changes no attack, and writes no file for the
    // resolve's schema inference to find
    if (Router.hasParquet(s"$outRoot/batch_id=$batchId"))
      resolveAttacks(batch.sparkSession, outRoot)
  }

  /** The `<prefix>...` subdirectories of `root`; none if it is absent. */
  private def dirsUnder(root: Path, prefix: String): Vector[Path] =
    if (!Files.isDirectory(root)) Vector() else {
      val ls = Files.list(root)
      try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toVector
      finally ls.close()
    }

  /** Routed streamed sinks -> one DataFrame: the resolved attacks plus the
    * batch-id sinks' other families, `_stop` excluded — the frame a
    * StreamingSpec equates with Router.readRouted.
    * Either side may be absent (an attacks-only or stats-only stream);
    * schema inference is guarded so empty batches can't crash the read.
    */
  def readRoutedStream(spark: SparkSession, outRoot: String): DataFrame = {
    val resolvedPath = s"$outRoot/_resolved/record_type=attacks"
    val rest =
      if (Router.hasParquet(outRoot)) Some(spark.read.parquet(outRoot)
        .filter(!col("record_type").isin(Pipeline.Attacks, Pipeline.Stop))
        .drop("batch_id"))
      else None
    val resolved =
      if (Router.hasParquet(resolvedPath)) Some(spark.read.parquet(resolvedPath)
        .withColumn("record_type", lit(Pipeline.Attacks)))
      else None
    (rest ++ resolved).reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(throw new IllegalStateException(s"no routed parquet data under $outRoot"))
  }

  /** End-to-end streaming job: parse -> route to per-record_type parquet
    * sinks via foreachBatch (the streaming analog of the S5 fan-out), with
    * checkpointing + batchId-keyed idempotent writes for exactly-once sink
    * contents, and the W3 lifecycle applied per micro-batch so the attacks
    * sink converges to the batch Router.route output (see writeRoutedBatch).
    */
  def routeStream(spark: SparkSession, sourcePath: String, outRoot: String,
                  checkpoint: String): StreamingQuery =
    startStream(spark, sourcePath, checkpoint)(writeRoutedBatch(outRoot) _)

  /** One checkpointed query: the file-stream parse (with `_stop` rows) of
    * `sourcePath`, each micro-batch handed to `writer`.
    */
  private[streaming] def startStream(spark: SparkSession, sourcePath: String, checkpoint: String)(
      writer: (DataFrame, Long) => Unit): StreamingQuery =
    streamRecordsAll(spark, streamTranscripts(spark, sourcePath)).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(writer)
      .start()
}
