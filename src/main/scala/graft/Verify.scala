package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q71,q72 dumps (and lists oracle SQL
    // for) just those queries; unset = the full driver contract
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop operator-persisted intermediates (shingle/band indexes, tf
      // tables) after each terminal action: over 50+ queries the pinned
      // blocks would otherwise crowd executor storage
      finally operators.Intermediates.release(spark)
    }
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
