package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one forked JVM per sbt test). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  private var tmpRoot: Option[Path] = None
  private var tmpDirs = 0

  /** A fresh `<prefix><n>` directory under this suite's one temp root,
    * which afterAll removes with everything under it. Paths stay short:
    * plan strings abbreviate a scan's Location to 100 characters, and
    * plan-shape specs match on the path's tail.
    */
  def tmpDir(prefix: String): String = synchronized {
    val root = tmpRoot.getOrElse {
      val r = Files.createTempDirectory("graft-")
      tmpRoot = Some(r)
      r
    }
    tmpDirs += 1
    Files.createDirectory(root.resolve(s"$prefix$tmpDirs")).toString
  }

  override def afterAll(): Unit =
    try tmpRoot.foreach(graft.operators.Router.rmrf) finally super.afterAll()

  /** Build a tiny transcripts DF from raw payload texts. */
  def transcriptsOf(texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (txt, i) =>
      (f"conv-$i%02d", i, "user", txt, "none", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** One record family's rows from the live parse path (parsedBase ->
    * explodedAll, what Router and streaming route) over raw payload texts.
    */
  def familyOf(family: String, texts: Seq[String]): DataFrame =
    graft.operators.Pipeline.explodedAll(transcriptsOf(texts),
      graft.sources.Transcripts.utcOffsets(spark), Set(family))

  def firstRow(df: DataFrame): Map[String, Any] = {
    val row = df.collect().head
    row.schema.fieldNames.zip(row.toSeq).toMap
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.operators.Pipeline.configure(s)
    s
  }
}
