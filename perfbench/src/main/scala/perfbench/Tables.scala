package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{TranscriptTable, Transcripts}
import graft.streaming.StreamingPipeline

/** The transcripts table the benchmark routes and queries. It is
  * materialized the way graft.sources.TranscriptStore materializes it (the
  * same synthesis, repartitioned across the session's cores, as parquet),
  * but under the run's own directory: TranscriptStore's cache location is
  * fixed and keyed by input path and template digest only, so a store from
  * another seed could be served stale, and it lies outside the benchmark's
  * directory. The program reads it through its public TranscriptTable seam.
  */
final class BenchStore(root: String) extends TranscriptTable {
  private def path(dir: String, rep: Int): String =
    s"$root/${Paths.get(dir).getFileName}_x$rep"

  /** Clear this input's key, synthesize it again, return its row count. */
  def materialize(spark: SparkSession, dir: String, rep: Int = 1): Long = {
    val p = path(dir, rep)
    Tables.rmrf(p)
    Transcripts.transcripts(spark, dir, rep)
      .repartition(math.max(spark.sparkContext.defaultParallelism, 8))
      .write.parquet(p)
    spark.read.parquet(p).count()
  }

  def table(spark: SparkSession, dir: String, rep: Int = 1): DataFrame = {
    val p = path(dir, rep)
    require(Files.exists(Paths.get(p, "_SUCCESS")), s"store not materialized: $p")
    spark.read.parquet(p)
  }

  def snapshotId(spark: SparkSession, dir: String, rep: Int = 1): String =
    graft.checkpoint.Lineage.snapshotId(dir, rep, table(spark, dir, rep).count())

  /** Bytes of the materialized table's data files. */
  def bytes(dir: String, rep: Int = 1): Double = Tables.footprint(path(dir, rep))._2.toDouble
}

/** The union of a stream's source files, read as a transcripts table: the
  * batch side of the streamed-route equality check.
  */
final class FilesTable(sourceDir: String) extends TranscriptTable {
  def table(spark: SparkSession, dir: String, rep: Int = 1): DataFrame =
    spark.read.schema(StreamingPipeline.transcriptSchema).parquet(sourceDir)
  def snapshotId(spark: SparkSession, dir: String, rep: Int = 1): String =
    graft.checkpoint.Lineage.snapshotId(sourceDir, rep, table(spark, dir, rep).count())
}

object Tables {
  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** (file count, bytes) of the data files under `p`. */
  def footprint(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L) else {
      val walk = Files.walk(root)
      try {
        var n = 0L
        var b = 0L
        walk.filter(f => f.getFileName.toString.endsWith(".parquet")).forEach { f =>
          n += 1; b += Files.size(f)
        }
        (n, b)
      } finally walk.close()
    }
  }
}
