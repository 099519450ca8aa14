package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W4: per-partition lineage manifest + resumable routing.
  *
  * No Iceberg runtime jar ships in this sandbox (SURVEY.md §7.0), so the
  * Iceberg contract the north rule needs — snapshot identity + per-partition
  * watermark + resume-without-recompute — is provided by a JSON sidecar
  * manifest next to the parquet sinks:
  *
  *   outRoot/_lineage.json   {snapshot_id, source, entries:[{partition,
  *                            rows, watermark, committed}]}
  *   outRoot/record_type=X/  one parquet sink per routed partition
  *
  * Each routed partition commits atomically (tmp manifest + move) after its
  * write; a killed run leaves committed partitions on disk and `resume`
  * recomputes only the uncommitted remainder, preserving routed-row-count
  * and per-turn payload equality (integration-tested in LineageSpec).
  */
object Lineage {

  final case class Entry(partition: String, rows: Long, watermark: String, committed: Boolean)
  final case class Manifest(snapshotId: String, source: String, entries: Seq[Entry])

  /** Deterministic snapshot identity for an input table state (the stand-in
    * for an Iceberg snapshot id): digest of the source path, amplification
    * and row count.
    */
  def snapshotId(dir: String, rep: Int, nTurns: Long): String =
    MessageDigest.getInstance("MD5")
      .digest(s"$dir|$rep|$nTurns".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  // ---- manifest IO (hand-rolled JSON; no external deps) ----

  private def render(m: Manifest): String = {
    val es = m.entries.map(e =>
      s"""{"partition":"${e.partition}","rows":${e.rows},"watermark":"${e.watermark}","committed":${e.committed}}""")
      .mkString("[", ",", "]")
    s"""{"snapshot_id":"${m.snapshotId}","source":"${m.source}","entries":$es}"""
  }

  private def parse(json: String): Manifest = {
    def field(src: String, name: String): String =
      s""""$name":"([^"]*)"""".r.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
    val entryRe =
      """\{"partition":"([^"]*)","rows":(\d+),"watermark":"([^"]*)","committed":(true|false)\}""".r
    val entries = entryRe.findAllMatchIn(json).map(m =>
      Entry(m.group(1), m.group(2).toLong, m.group(3), m.group(4).toBoolean)).toSeq
    Manifest(field(json, "snapshot_id"), field(json, "source"), entries)
  }

  def readManifest(outRoot: String): Option[Manifest] = {
    val p = Paths.get(outRoot, "_lineage.json")
    if (Files.exists(p)) Some(parse(Files.readString(p))) else None
  }

  private def writeManifest(outRoot: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(outRoot))
    val tmp = Paths.get(outRoot, "_lineage.json.tmp")
    Files.writeString(tmp, render(m))
    Files.move(tmp, Paths.get(outRoot, "_lineage.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Commit one routed partition from the staged read-back: write the final
    * sink, then read the WRITTEN sink back for (rows, watermark) — the
    * manifest describes the bytes on disk, not the plan that produced them.
    */
  private def commitPartition(spark: SparkSession, back: DataFrame,
                              lifeAgg: DataFrame, outRoot: String,
                              partition: String): Entry = {
    import graft.operators.Pipeline
    val part0 = back.filter(col("record_type") === partition)
    val part =
      if (partition == Pipeline.Attacks) Pipeline.applyLifecycle(part0, lifeAgg)
      else part0
    part.drop("record_type").write.mode("overwrite").parquet(s"$outRoot/record_type=$partition")
    val agg = spark.read.parquet(s"$outRoot/record_type=$partition")
      .agg(count("*"), max("ts")).collect().head
    Entry(partition, agg.getLong(0), Option(agg.get(1)).map(_.toString).getOrElse(""),
      committed = true)
  }

  /** Route all (or the given subset of) record partitions with per-partition
    * lineage commits. `limitTo` exists so tests can simulate a mid-run kill.
    *
    * Stage-once shape (Router's): the parse pass runs ONCE per run into a
    * staged partitioned sink (incl. the internal `_stop` rows); every
    * partition commit is then a column-complete columnar read of its staged
    * slice, and the attacks commit applies the W3 lifecycle rewrite from a
    * NARROW staged read-back — the old per-commit re-filter of records()
    * cost one full parse+lifecycle pass per partition (3x per run).
    * A resumed run restages (one parse) and commits only the uncommitted
    * remainder; committed sinks are never rewritten.
    */
  def route(spark: SparkSession, dir: String, outRoot: String, rep: Int = 1,
            limitTo: Option[Set[String]] = None,
            store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): Manifest = {
    import graft.operators.{Pipeline, Router}
    import graft.sources.Transcripts
    Pipeline.configure(spark)
    val snap = store.snapshotId(spark, dir, rep)
    val prior = readManifest(outRoot).filter(_.snapshotId == snap)
      .map(_.entries.filter(_.committed).map(e => e.partition -> e).toMap)
      .getOrElse(Map.empty)
    var entries = prior
    val todo = Router.FinalPartitions.filter(p => limitTo.forall(_.contains(p)) && !prior.contains(p))
    if (todo.nonEmpty) {
      val staged = s"$outRoot/_staged"
      val t = Pipeline.healthFilter(store.table(spark, dir, rep),
        Transcripts.healthStrings(spark))
      Pipeline.explodedAll(t, Transcripts.utcOffsets(spark))
        .write.mode("overwrite").partitionBy("record_type").parquet(staged)
      val back = spark.read.parquet(staged)
      lazy val lifeAgg = Pipeline.lifeAggOf(Pipeline.lifeFactsFromStaged(back))
      todo.foreach { p =>
        entries = entries + (p -> commitPartition(spark, back, lifeAgg, outRoot, p))
        writeManifest(outRoot, Manifest(snap, s"$dir x$rep",
          Router.FinalPartitions.flatMap(entries.get)))
      }
      Router.rmrf(java.nio.file.Paths.get(staged))
    }
    Manifest(snap, s"$dir x$rep", Router.FinalPartitions.flatMap(entries.get))
  }

  /** Resume a killed run: recompute ONLY partitions without a committed
    * manifest entry for this snapshot; committed sinks are left untouched.
    */
  def resume(spark: SparkSession, dir: String, outRoot: String, rep: Int = 1): Manifest =
    route(spark, dir, outRoot, rep)
}
