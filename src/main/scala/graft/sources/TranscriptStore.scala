package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materializes the synthesized transcripts table to local parquet once per
  * (sfDir, rep) and serves all pipeline reads from that scan.
  *
  * This mirrors the production shape of the north rule — the engine reads an
  * Iceberg/Parquet *table* of transcripts, it does not evaluate a generator
  * expression — and it keeps every query plan a plain columnar scan with
  * predicate pushdown and column pruning, instead of replicating the
  * (large) synthesis expression tree into every branch of every plan.
  */
object TranscriptStore extends TranscriptTable {

  /** Synthesis fingerprint: the store silently serves stale transcripts
    * across code changes otherwise. Covers BOTH deterministic inputs to the
    * synthesis: the payload template SQL (Payloads.textSql) AND the
    * derived-column arithmetic (conv_id/turn_idx scheme, attack-id layout,
    * host/offset mix) via Oracle.derivedCte, which mirrors
    * Transcripts.derived() expression-for-expression — a change to either
    * must invalidate the cached parquet.
    */
  private lazy val templateVersion: String = {
    val key = Payloads.textSql + "\u0000" + graft.Oracle.derivedCte
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    digest.take(4).map("%02x".format(_)).mkString
  }

  /** The store directory for (dir, rep), under the running checkout's
    * `target/transcripts`. The key drops the leading `_`/`.` that an
    * absolute `dir` maps to: Spark treats such a name as hidden and warns
    * that all paths were ignored on every read of the store.
    */
  private[graft] def storePath(dir: String, rep: Int): String = {
    val key = dir.replaceAll("[^a-zA-Z0-9.]", "_").replaceAll("^[_.]+", "") +
      (if (rep > 1) s"_x$rep" else "") + s"_v$templateVersion"
    Paths.get(sys.props("user.dir"), "target", "transcripts", key).toString
  }

  /** Synthesize-if-needed, then return the parquet-backed transcripts scan. */
  def table(spark: SparkSession, dir: String, rep: Int = 1): DataFrame = {
    val path = storePath(dir, rep)
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) synchronized {
      if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
        // events.parquet is a single small file -> one input split; spread
        // the synthesis (and the store layout) across the cluster so the
        // render isn't single-threaded and downstream scans parallelize.
        val parts = math.max(spark.sparkContext.defaultParallelism, 8)
        Transcripts.transcripts(spark, dir, rep)
          .repartition(parts)
          .write.mode("overwrite").parquet(path)
      }
    }
    spark.read.parquet(path)
  }

  /** Snapshot identity = digest of (source, amplification, row count) —
    * the parquet stand-in for Iceberg's currentSnapshot().snapshotId. The
    * count is a columnar metadata-only aggregate, not a data scan.
    */
  def snapshotId(spark: SparkSession, dir: String, rep: Int = 1): String =
    graft.checkpoint.Lineage.snapshotId(dir, rep, table(spark, dir, rep).count())
}
