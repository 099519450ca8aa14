package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Json
import graft.operators.Router

/** W4: per-partition lineage manifest + resumable routing.
  *
  * No Iceberg runtime jar ships in this sandbox (SURVEY.md §7.0), so the
  * Iceberg contract the north rule needs — snapshot identity + per-partition
  * watermark + resume-without-recompute — is provided by a JSON sidecar
  * manifest next to Router's parquet sinks:
  *
  *   outRoot/_lineage.json   {snapshot_id, source, entries:[{partition,
  *                            rows, watermark, committed}]}
  *   outRoot/record_type=X/  one parquet sink per routed partition, in
  *                            Router.route's layout
  *
  * Each routed partition commits atomically (tmp manifest + move) after its
  * write; a killed run leaves committed partitions on disk and the next
  * `route` over the same snapshot recomputes only the uncommitted
  * remainder, preserving routed-row and per-turn payload equality
  * (integration-tested in LineageSpec).
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

  private[graft] def render(m: Manifest): String = {
    val es = m.entries.map(e =>
      s"""{"partition":${Json.quote(e.partition)},"rows":${e.rows},""" +
        s""""watermark":${Json.quote(e.watermark)},"committed":${e.committed}}""")
      .mkString("[", ",", "]")
    s"""{"snapshot_id":${Json.quote(m.snapshotId)},"source":${Json.quote(m.source)},"entries":$es}"""
  }

  private[graft] def parse(json: String): Manifest = {
    val str = Json.StringRe
    def field(name: String): String =
      s""""$name":$str""".r.findFirstMatchIn(json).map(m => Json.unquote(m.group(1))).getOrElse("")
    val entryRe =
      s"""\\{"partition":$str,"rows":(\\d+),"watermark":$str,"committed":(true|false)\\}""".r
    val entries = entryRe.findAllMatchIn(json).map(m =>
      Entry(Json.unquote(m.group(1)), m.group(2).toLong, Json.unquote(m.group(3)),
        m.group(4).toBoolean)).toSeq
    Manifest(field("snapshot_id"), field("source"), entries)
  }

  def readManifest(outRoot: String): Option[Manifest] = {
    val p = Paths.get(outRoot, "_lineage.json")
    if (Files.exists(p)) Some(parse(Files.readString(p))) else None
  }

  private[graft] def writeManifest(outRoot: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(outRoot))
    val tmp = Paths.get(outRoot, "_lineage.json.tmp")
    Files.writeString(tmp, render(m))
    Files.move(tmp, Paths.get(outRoot, "_lineage.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Route every record partition through Router's stage and commit steps,
    * with a manifest commit after each partition. Partitions the manifest
    * already records as committed for this snapshot are skipped, so calling
    * this on a killed run's output resumes it: one restage (one parse), and
    * only the uncommitted remainder is committed; committed sinks are never
    * rewritten. Each entry reads the WRITTEN sink back for (rows,
    * watermark) — the manifest describes the bytes on disk, not the plan
    * that produced them.
    */
  def route(spark: SparkSession, dir: String, outRoot: String, rep: Int = 1,
            store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): Manifest = {
    val snap = store.snapshotId(spark, dir, rep)
    val source = s"$dir x$rep"
    var entries = readManifest(outRoot).filter(_.snapshotId == snap)
      .map(_.entries.filter(_.committed).map(e => e.partition -> e).toMap)
      .getOrElse(Map.empty[String, Entry])
    def manifest = Manifest(snap, source, Router.FinalPartitions.flatMap(entries.get))
    val todo = Router.FinalPartitions.filterNot(entries.contains)
    if (todo.nonEmpty) {
      val back = Router.stage(spark, dir, outRoot, rep, store)
      todo.foreach { p =>
        Router.commit(back, outRoot, p)
        val sink = s"$outRoot/record_type=$p"
        // a family that routed no rows has no files to read back
        val agg = Option.when(Router.hasParquet(sink))(
          spark.read.parquet(sink).agg(count("*"), max("ts")).head())
        entries += p -> Entry(p, agg.fold(0L)(_.getLong(0)),
          agg.flatMap(r => Option(r.get(1))).fold("")(_.toString), committed = true)
        writeManifest(outRoot, manifest)
      }
      Router.rmrf(Router.stagedDir(outRoot))
    }
    manifest
  }
}
