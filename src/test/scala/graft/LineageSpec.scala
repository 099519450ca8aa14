package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.functions._
import graft.checkpoint.Lineage

/** W4 integration test: kill-and-resume routing with per-partition lineage.
  * Simulates a mid-run kill by routing only the first partition, then
  * resumes and asserts (a) committed sinks are not rewritten, (b) routed
  * row counts and per-turn payloads equal a fresh one-shot run.
  */
class LineageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  test("killed run resumes from the manifest without recomputing routed partitions") {
    val out = Files.createTempDirectory("graft-lineage").toString

    // phase 1: "killed" run — only the attacks partition commits
    val partial = Lineage.route(spark, dir, out, limitTo = Some(Set("attacks")))
    assert(partial.entries.map(_.partition) == Seq("attacks"))
    assert(Lineage.readManifest(out).get.entries.forall(_.committed))
    val attacksFiles = Files.list(Paths.get(out, "record_type=attacks"))
      .toArray.map(_.toString).sorted.toSeq
    val attacksMtimes = attacksFiles.map(f => Files.getLastModifiedTime(Paths.get(f)).toMillis)

    // phase 2: resume — completes the remaining partitions only
    val resumed = Lineage.resume(spark, dir, out)
    assert(resumed.entries.map(_.partition).toSet ==
      Set("attacks", "attack_mitigation_stats", "traffic_stats"))

    // committed partition untouched (same files, same mtimes)
    val attacksFilesAfter = Files.list(Paths.get(out, "record_type=attacks"))
      .toArray.map(_.toString).sorted.toSeq
    assert(attacksFilesAfter == attacksFiles)
    assert(attacksFilesAfter.map(f => Files.getLastModifiedTime(Paths.get(f)).toMillis)
      == attacksMtimes)

    // routed-row-count + per-turn payload equality vs a fresh one-shot run
    val routed = graft.operators.Router.readRouted(spark, out)
    val oneShot = graft.operators.Pipeline.records(spark, dir)
    assert(routed.count() == oneShot.count())
    val key = Seq("record_type", "conv_id", "turn_idx", "remote_log_payload")
    assert(routed.select(key.head, key.tail: _*).except(
      oneShot.select(key.head, key.tail: _*)).count() == 0)
    assert(oneShot.select(key.head, key.tail: _*).except(
      routed.select(key.head, key.tail: _*)).count() == 0)

    // watermark sanity: every committed entry carries the partition max ts
    resumed.entries.foreach(e => assert(e.watermark.nonEmpty && e.rows > 0))

    // snapshot identity: same input -> same id; different input -> different
    assert(Lineage.snapshotId(dir, 1, 1000L) == partial.snapshotId)
    assert(Lineage.snapshotId(dir, 2, 2000L) != partial.snapshotId)

    rmrf(Paths.get(out))
  }
}
