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
  *   phase 1  parse ONCE -> stage every partition (incl. the internal
  *            `_stop` rows) as parquet;
  *   phase 2  read back only (attack_id, ts, device_utc_time) from the
  *            attacks/_stop partitions — a column-pruned columnar read of a
  *            tiny fraction of the routed bytes — aggregate the lifecycle
  *            facts, and rewrite ONLY the attacks partition (the MERGE);
  *            all other partitions promote by rename (a metadata commit,
  *            the local-FS stand-in for an Iceberg snapshot commit).
  *
  * Net cost: one full parse pass + one small read + one small rewrite,
  * versus two full parse passes for the naive plan.
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

  /** Parse once and fan out to per-record_type parquet sinks under
    * `outRoot/record_type=X`; returns the routed row count per partition.
    */
  def route(spark: SparkSession, dir: String, outRoot: String, rep: Int = 1,
            store: graft.sources.TranscriptTable = graft.sources.TranscriptStore): Unit = {
    Pipeline.configure(spark)
    val staged = s"$outRoot/_staged"
    rmrf(Paths.get(outRoot))
    var t0 = System.nanoTime()
    def phase(name: String): Unit = {
      System.err.println(f"[route] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      t0 = System.nanoTime()
    }

    // phase 1: one scan, one parse, all partitions staged
    val t = Pipeline.healthFilter(store.table(spark, dir, rep),
      Transcripts.healthStrings(spark))
    // Fan-out axes (the north rule's per-severity and per-tool sinks):
    //   - record_type and tool are DIRECTORY axes everywhere;
    //   - attack_severity is a directory axis for the attacks family (below,
    //     always populated there) and a ROW-GROUP axis for the rest — the
    //     sortWithinPartitions clusters each staged file by severity, so
    //     severity predicates prune via parquet min/max stats. It cannot be
    //     a directory axis for every family: traffic_stats has no severity
    //     (all-null partition dirs would also break type inference).
    Pipeline.explodedAll(t, Transcripts.utcOffsets(spark))
      .sortWithinPartitions("record_type", "tool", "attack_severity")
      .write.mode("overwrite").partitionBy("record_type", "tool").parquet(staged)
    phase("staged write")

    // phase 2: lifecycle facts from a narrow read-back of the staged sinks
    val back = spark.read.parquet(staged)
    val lifeAgg = Pipeline.lifeAggOf(Pipeline.lifeFactsFromStaged(back))
    Pipeline.applyLifecycle(back.filter(col("record_type") === Pipeline.Attacks), lifeAgg)
      .drop("record_type")
      .write.mode("overwrite").partitionBy("tool", "attack_severity")
      .parquet(s"$outRoot/record_type=attacks")
    phase("lifecycle rewrite")

    // promote untouched partitions by rename; drop the _stop staging
    FinalPartitions.filterNot(_ == "attacks").foreach { p =>
      val src = Paths.get(staged, s"record_type=$p")
      if (Files.exists(src))
        Files.move(src, Paths.get(outRoot, s"record_type=$p"), StandardCopyOption.ATOMIC_MOVE)
    }
    rmrf(Paths.get(staged))
    phase("promote+cleanup")
  }

  /** Routed sinks -> one DataFrame (for equivalence checks). */
  def readRouted(spark: SparkSession, outRoot: String): DataFrame =
    FinalPartitions.map(p => spark.read.parquet(s"$outRoot/record_type=$p")
        .withColumn("record_type", lit(p)))
      .reduce(_.unionByName(_))
}
