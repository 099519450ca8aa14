package graft

import org.apache.spark.sql.SparkSession

/** The one local-session shape the harness mains run under: local[cpus]
  * with as many shuffle partitions, UTC session time, no UI, AQE on, and
  * the pipeline's session settings (Pipeline.configure).
  */
object LocalSession {
  def apply(cpus: Int, app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    operators.Pipeline.configure(s)
    s
  }
}
