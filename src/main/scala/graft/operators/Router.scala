package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** S5 routed-sink writer, MERGE-shaped for scale.
  *
  * `Pipeline.records` as a pure DataFrame resolves the W3 lifecycle by
  * re-deriving the narrow lifecycle facts from the source — at 100 TB that
  * is a second full scan+parse of the input. The routed write avoids it:
  *
  *   stage    parse ONCE -> stage every partition (incl. the internal
  *            `_stop` rows) as parquet;
  *   commit   per partition: for attacks, read back only (attack_id, ts,
  *            device_utc_time) from the attacks/_stop partitions — a
  *            column-pruned columnar read of a tiny fraction of the routed
  *            bytes — aggregate the lifecycle facts, and rewrite ONLY the
  *            attacks partition (the MERGE, Pipeline.lifecycleMerge, which
  *            the streamed resolve runs too); every other partition
  *            promotes by rename (a metadata commit, the local-FS stand-in
  *            for an Iceberg snapshot commit).
  *
  * Net cost: one full parse pass + one small read + one small rewrite,
  * versus two full parse passes for the naive plan. checkpoint.Lineage runs
  * the same two steps with a manifest commit after each partition.
  */
object Router {

  val FinalPartitions: Seq[String] = Seq("attacks", "attack_mitigation_stats", "traffic_stats")

  /** Recursive delete (shared with Bench's sink cleanup); closes the walk
    * stream — Files.walk holds directory handles until closed.
    */
  private[graft] def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** True iff `path` contains at least one parquet data file — the guard
    * that keeps schema inference from throwing on a sink directory that
    * holds no rows (a family that routed none; a stream whose batches were
    * all empty). Underscore-prefixed subtrees are skipped, mirroring
    * Spark's hidden-path rule: a data file inside `_staged` or the
    * streamed `_resolved` attacks sink must not make the enclosing read
    * look non-empty.
    */
  private[graft] def hasParquet(path: String): Boolean = {
    val root = Paths.get(path)
    Files.exists(root) && {
      val walk = Files.walk(root)
      try walk.anyMatch { f =>
        f.getFileName.toString.endsWith(".parquet") && {
          val rel = root.relativize(f)
          (0 until rel.getNameCount - 1).forall(i => !rel.getName(i).toString.startsWith("_"))
        }
      }
      finally walk.close()
    }
  }

  private[graft] def stagedDir(outRoot: String): Path = Paths.get(outRoot, "_staged")

  /** Step 1: one scan, one parse, every partition staged under
    * `outRoot/_staged` (replacing a killed run's staging); returns the
    * staged read-back.
    */
  def stage(spark: SparkSession, dir: String, outRoot: String, rep: Int = 1,
            store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): DataFrame = {
    val staged = stagedDir(outRoot).toString
    // Fan-out axes (the north rule's per-severity and per-tool sinks):
    //   - record_type and tool are DIRECTORY axes in the batch route (the
    //     streamed sinks are `batch_id=/record_type=` only);
    //   - attack_severity is a directory axis for the attacks family (see
    //     commit, always populated there) and a ROW-GROUP axis for the rest
    //     — the sortWithinPartitions clusters each staged file by severity,
    //     so severity predicates prune via parquet min/max stats. It cannot
    //     be a directory axis for every family: traffic_stats has no
    //     severity (all-null partition dirs would also break type inference).
    exploded(spark, dir, rep, store)
      .sortWithinPartitions("record_type", "tool", "attack_severity")
      .write.mode("overwrite").partitionBy("record_type", "tool").parquet(staged)
    spark.read.parquet(staged)
  }

  /** The rows `stage` writes: one parse of the health-filtered transcripts,
    * every family's records plus the internal `_stop` rows.
    */
  private[graft] def exploded(spark: SparkSession, dir: String, rep: Int,
                              store: graft.sources.TranscriptTable): DataFrame =
    Pipeline.explodedAll(Pipeline.transcriptsClean(spark, dir, rep, store),
      Transcripts.utcOffsets(spark))

  /** Step 2, one partition: publish `outRoot/record_type=p` from the staged
    * read-back. Attacks get the lifecycle rewrite, by tool/attack_severity;
    * any other family moves by rename, after clearing what a killed run
    * left at the target (ATOMIC_MOVE fails onto a non-empty directory).
    */
  def commit(back: DataFrame, outRoot: String, p: String): Unit = {
    val target = Paths.get(outRoot, s"record_type=$p")
    if (p == Pipeline.Attacks) {
      Pipeline.lifecycleMerge(back)
        .write.mode("overwrite").partitionBy("tool", "attack_severity")
        .parquet(target.toString)
    } else {
      val src = stagedDir(outRoot).resolve(s"record_type=$p")
      rmrf(target)
      if (Files.exists(src)) Files.move(src, target, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Parse once and fan out to per-record_type parquet sinks under
    * `outRoot/record_type=X`: wipe, stage, commit each partition, drop the
    * staging (and with it the internal `_stop` rows).
    */
  def route(spark: SparkSession, dir: String, outRoot: String, rep: Int = 1,
            store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): Unit = {
    rmrf(Paths.get(outRoot))
    var t0 = System.nanoTime()
    def phase(name: String): Unit = {
      System.err.println(f"[route] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      t0 = System.nanoTime()
    }
    val back = stage(spark, dir, outRoot, rep, store)
    phase("staged write")
    commit(back, outRoot, Pipeline.Attacks)
    phase("lifecycle rewrite")
    FinalPartitions.filterNot(_ == Pipeline.Attacks).foreach(commit(back, outRoot, _))
    rmrf(stagedDir(outRoot))
    phase("promote+cleanup")
  }

  /** Routed sinks -> one DataFrame (for equivalence checks). */
  def readRouted(spark: SparkSession, outRoot: String): DataFrame =
    FinalPartitions.filter(p => hasParquet(s"$outRoot/record_type=$p"))
      .map(p => spark.read.parquet(s"$outRoot/record_type=$p")
        .withColumn("record_type", lit(p)))
      .reduce(_.unionByName(_))
}
