package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The table-layer seam promised in SURVEY.md §7.0: everything the pipeline
  * needs from "an Iceberg table of transcripts", as an interface.
  *
  * No Iceberg runtime jar ships in this sandbox, so the bundled
  * implementation ([[TranscriptStore]]) is parquet + a deterministic
  * snapshot digest, with the per-partition watermark/commit ledger in
  * graft.checkpoint.Lineage's JSON manifest. On a real cluster an Iceberg
  * catalog drops in behind this trait:
  *
  *   - `table`      -> spark.read.table("catalog.db.transcripts") (or a
  *                     snapshot-pinned read via VERSION AS OF)
  *   - `snapshotId` -> table.currentSnapshot().snapshotId() from Iceberg
  *                     metadata — no data scan
  *
  * and the Lineage manifest's commit/resume contract maps onto Iceberg
  * snapshot commits. Router.route and Lineage.route take a TranscriptTable
  * parameter defaulting to the parquet store, so the swap is a constructor
  * argument, not a rewrite; Lineage.route keys its manifest on the given
  * table's snapshotId, so a run resumes only against the table it started
  * on.
  */
trait TranscriptTable {

  /** Columnar scan of the transcripts table for (dir, rep): columns
    * (conv_id, turn_idx, role, text, tool, ts), predicate pushdown and
    * column pruning intact.
    */
  def table(spark: SparkSession, dir: String, rep: Int = 1): DataFrame

  /** Stable identity of the table's current state — two reads with equal
    * snapshot ids are guaranteed the same rows (the resume-without-
    * recompute precondition). Iceberg: currentSnapshot().snapshotId.
    */
  def snapshotId(spark: SparkSession, dir: String, rep: Int = 1): String
}
