package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Noise ledger: every timed operation is recorded with the host steal
  * share, JIT compile time, GC time and Spark codegen compile time that
  * fell inside it, so a slow sample can be attributed to the machine or
  * the JVM instead of the program.
  */
final case class Sample(op: String, wallS: Double, ok: Boolean, stealFrac: Double,
                        jitS: Double, gcS: Double, codegenS: Double, cpuS: Double)

final class Ledger {
  val samples: ArrayBuffer[Sample] = ArrayBuffer()

  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used so far by every thread of this JVM. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  private def gcMs: Long = gcs.map(g => math.max(g.getCollectionTime, 0L)).sum

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. */
  private def jiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Time `body`; a throw is recorded as a failed sample, not rethrown. */
  def timed(op: String)(body: => Unit): Sample = {
    val (s0, t0j) = jiffies()
    val j0 = jit.getTotalCompilationTime
    val g0 = gcMs
    val c0 = CodeGenerator.compileTime
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $op failed: $e")
        e.printStackTrace()
        false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (s1, t1j) = jiffies()
    val smp = Sample(op, wall, ok,
      if (t1j > t0j) (s1 - s0).toDouble / (t1j - t0j) else 0.0,
      (jit.getTotalCompilationTime - j0) / 1e3, (gcMs - g0) / 1e3,
      (CodeGenerator.compileTime - c0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9)
    samples += smp
    smp
  }

  def ok: Seq[Sample] = samples.filter(_.ok).toSeq
  def failed: Int = samples.count(!_.ok)

  def toJson: String = samples.map { s =>
    Json.obj("op" -> s.op, "wall_s" -> s.wallS, "ok" -> s.ok, "steal_frac" -> s.stealFrac,
      "jit_s" -> s.jitS, "gc_s" -> s.gcS, "codegen_s" -> s.codegenS, "cpu_s" -> s.cpuS)
  }.mkString("[\n", ",\n", "\n]")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
