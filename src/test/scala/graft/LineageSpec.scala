package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import graft.checkpoint.Lineage
import graft.operators.Router
import graft.sources.{TranscriptStore, TranscriptTable}

/** W4 integration tests: kill-and-resume routing with per-partition lineage.
  * A kill after k partition commits is simulated by cutting a complete run
  * back to that state (manifest truncated to its first k entries, later
  * sinks deleted); resuming must leave committed sinks untouched and end
  * with the rows a fresh one-shot run routes.
  */
class LineageSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every regular file under `root`, sorted, with its mtime (millis). */
  private def files(root: Path): Seq[(String, Long)] = {
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).toSeq
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).sortBy(_._1)
    finally walk.close()
  }

  private def sink(out: String, p: String): Path = Paths.get(out, s"record_type=$p")

  /** Cut a complete run back to a kill after its first `k` commits. */
  private def killAfter(out: String, k: Int): Lineage.Manifest = {
    val full = Lineage.readManifest(out).get
    val partial = full.copy(entries = full.entries.take(k))
    Lineage.writeManifest(out, partial)
    Router.FinalPartitions.drop(k).foreach(p => Router.rmrf(sink(out, p)))
    partial
  }

  /** Row-set equality in both directions over every column. */
  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    assert(a.columns.sorted.sameElements(b.columns.sorted))
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    assert(x.count() == y.count())
    assert(x.except(y).isEmpty && y.except(x).isEmpty)
  }

  test("killed run resumes from the manifest without recomputing routed partitions") {
    val out = tmpDir("graft-lineage")

    // phase 1: "killed" run — only the attacks partition committed
    Lineage.route(spark, dir, out)
    val partial = killAfter(out, 1)
    assert(partial.entries.map(_.partition) == Seq("attacks"))
    assert(Lineage.readManifest(out).get.entries.forall(_.committed))
    val attacksFiles = files(sink(out, "attacks")).map(_._1)
    val attacksMtimes = files(sink(out, "attacks")).map(_._2)

    // phase 2: resume — completes the remaining partitions only
    val resumed = Lineage.route(spark, dir, out)
    assert(resumed.entries.map(_.partition).toSet ==
      Set("attacks", "attack_mitigation_stats", "traffic_stats"))

    // committed partition untouched (same files, same mtimes)
    val attacksFilesAfter = files(sink(out, "attacks")).map(_._1)
    assert(attacksFilesAfter == attacksFiles)
    assert(files(sink(out, "attacks")).map(_._2) == attacksMtimes)

    // routed-row-count + per-turn payload equality vs a fresh one-shot run
    val routed = Router.readRouted(spark, out)
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
  }

  test("every kill point resumes over debris to a fresh Router.route, in Router's layout") {
    val fresh = tmpDir("graft-lineage-fresh")
    Router.route(spark, dir, fresh)
    val expected = Router.readRouted(spark, fresh)

    (0 to 2).foreach { k =>
      val out = tmpDir(s"graft-lineage-k$k")
      Lineage.route(spark, dir, out)
      killAfter(out, k)
      // debris a kill leaves: a stale staging dir and a partial file under
      // the partition whose commit was cut
      val staleStaged = Paths.get(out, "_staged", "record_type=attacks")
      Files.createDirectories(staleStaged)
      Files.writeString(staleStaged.resolve("part-00000-stale.snappy.parquet"), "stale")
      val next = sink(out, Router.FinalPartitions(k))
      Files.createDirectories(next)
      Files.writeString(next.resolve("part-00000-partial.snappy.parquet"), "partial")
      val committed = Router.FinalPartitions.take(k).map(p => files(sink(out, p)))

      val resumed = Lineage.route(spark, dir, out)
      assert(resumed.entries.map(_.partition) == Router.FinalPartitions, s"kill point $k")
      assert(resumed.entries.forall(e => e.committed && e.rows > 0), s"kill point $k")
      assert(Lineage.readManifest(out).contains(resumed), s"kill point $k")
      assert(Router.FinalPartitions.take(k).map(p => files(sink(out, p))) == committed,
        s"kill point $k: a committed sink was rewritten")
      assert(!Files.exists(Paths.get(out, "_staged")), s"kill point $k")
      assertSameRows(Router.readRouted(spark, out), expected)

      // Router's layout: attacks fan out by tool then attack_severity
      val attackFiles = files(sink(out, "attacks")).map(_._1).filter(_.endsWith(".parquet"))
      assert(attackFiles.nonEmpty && attackFiles.forall(f =>
        f.contains("/tool=") && f.contains("/attack_severity=")), s"kill point $k")
      Router.rmrf(Paths.get(out))
    }
  }

  test("resume keeps a non-default TranscriptTable; a family with no rows commits rows = 0") {
    // the transcripts minus every Traffic Statistics turn: traffic_stats
    // routes no rows, and the snapshot differs from the default store's
    object NoTraffic extends TranscriptTable {
      def table(spark: SparkSession, dir: String, rep: Int): DataFrame =
        TranscriptStore.table(spark, dir, rep).filter(!col("text").contains("Traffic Statistics"))
      def snapshotId(spark: SparkSession, dir: String, rep: Int): String =
        Lineage.snapshotId(s"$dir|no-traffic", rep, table(spark, dir, rep).count())
    }
    val fresh = tmpDir("graft-lineage-store-fresh")
    Router.route(spark, dir, fresh, 1, NoTraffic)

    val out = tmpDir("graft-lineage-store")
    val full = Lineage.route(spark, dir, out, store = NoTraffic)
    assert(full.entries.last == Lineage.Entry("traffic_stats", 0L, "", committed = true))
    assert(full.snapshotId != TranscriptStore.snapshotId(spark, dir))

    killAfter(out, 1)
    val attacks = files(sink(out, "attacks"))
    val resumed = Lineage.route(spark, dir, out, store = NoTraffic)
    assert(resumed == full)
    assert(files(sink(out, "attacks")) == attacks, "the committed attacks sink was rewritten")
    val routed = Router.readRouted(spark, out)
    assert(routed.filter(col("record_type") === "traffic_stats").isEmpty)
    assertSameRows(routed, Router.readRouted(spark, fresh))
  }

  test("manifest JSON round-trips any source string: parse(render(m)) == m") {
    // path-like strings dense in JSON metacharacters, and arbitrary strings
    val special = Gen.oneOf('"', '\\', '/', '\n', '\r', '\t', '\u0001', '\u001f',
      '{', '}', '[', ']', ':', ',', ' ', 'x', '\u00e9', '\u2028')
    val source = Gen.oneOf(
      Gen.listOf(special).map(_.mkString),
      Arbitrary.arbitrary[String],
      Gen.alphaStr.map(s => s"/data/$s\"q\\b x3"))
    val manifest = for {
      src <- source
      rows <- Gen.choose(0L, Long.MaxValue)
      committed <- Arbitrary.arbitrary[Boolean]
    } yield Lineage.Manifest("0123abcd", src,
      Seq(Lineage.Entry("attacks", rows, "2026-01-01 00:00:00.0", committed),
        Lineage.Entry("traffic_stats", 0L, "", committed = true)))
    (0 until 300).foreach { i =>
      val seed = 9000L + i
      val m = manifest.pureApply(Gen.Parameters.default, Seed(seed))
      assert(Lineage.parse(Lineage.render(m)) == m, s"seed $seed: source ${m.source.toSeq.map(_.toInt)}")
    }
  }

  test("transcript store path has no hidden segment, so its reads see the data files") {
    val path = TranscriptStore.storePath(dir, 1)
    // rooted at the running checkout, so a second checkout keeps its own store
    assert(Paths.get(path).getParent == Paths.get(sys.props("user.dir"), "target", "transcripts"))
    val hidden = Paths.get(path).iterator().asScala.map(_.toString)
      .filter(seg => seg.startsWith("_") || seg.startsWith(".")).toSeq
    assert(hidden.isEmpty, s"$path has hidden segments $hidden")
    assert(TranscriptStore.table(spark, dir).inputFiles.nonEmpty)
  }
}
