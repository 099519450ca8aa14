package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEndQe
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark call, a stream micro-batch or a SQL execution.
  * Times are epoch microseconds; `parent` is -1 for a root.
  */
final class Span(val id: Int, val name: String, val kind: String, var parent: Int,
                 val startUs: Long, var endUs: Long) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def durS: Double = (endUs - startUs) / 1e6
}

/** Task metrics of the stages one SQL execution ran. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  val taskMs: ArrayBuffer[Long] = ArrayBuffer()
}

/** What the query-execution listener saw of one SQL execution's plan. */
final case class PlanInfo(planS: Double, exchanges: Int, maxJoinRows: Long,
                          writePath: String, writeFiles: Long, writeBytes: Long,
                          writeParts: Long)

/** In-memory span recorder fed by the benchmark's own calls and by three
  * listeners it registers: a SparkListener (jobs, stages, tasks, SQL
  * executions), a QueryExecutionListener (planning phases and the executed
  * plan) and a StreamingQueryListener (micro-batches). Every SQL execution
  * becomes a child of the innermost benchmark span or micro-batch that
  * covers it in time; its stage and task metrics roll up to it. Spans are
  * written out once, when the run ends.
  */
final class Tracer(val runId: String) extends AdaptiveSparkPlanHelper {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  private def newSpan(name: String, kind: String, parent: Int, s: Long, e: Long): Span =
    synchronized {
      val sp = new Span(spans.size, name, kind, parent, s, e)
      spans += sp
      sp
    }

  /** The innermost open benchmark span. */
  def current: Option[Span] = stack.headOption

  /** Record `body` as a span under the current benchmark span. */
  def span[T](name: String, kind: String = "call")(body: => T): T = {
    val sp = newSpan(name, kind, stack.headOption.map(_.id).getOrElse(-1), nowUs, -1L)
    stack = sp :: stack
    try body finally { sp.endUs = nowUs; stack = stack.tail }
  }

  // ---- listener state, keyed by SQL execution id ----
  private val execSpan = mutable.Map[Long, Span]()
  private val execRoot = mutable.Map[Long, Long]()
  private val jobsOf = mutable.Map[Long, Int]().withDefaultValue(0)
  val stageAgg: mutable.Map[Int, StageAgg] = mutable.Map()
  private val stagesOf = mutable.Map[Long, mutable.Set[Int]]()
  private val execQe = mutable.Map[Long, QueryExecution]()
  private val plans = new java.util.IdentityHashMap[QueryExecution, PlanInfo]()
  private def planOf(ex: Long): Option[PlanInfo] = execQe.get(ex).flatMap(qe => Option(plans.get(qe)))

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(ev: SparkListenerEvent): Unit = Tracer.this.synchronized {
      ev match {
        case s: SparkListenerSQLExecutionStart =>
          val sp = newSpan(s"sql:${s.description.take(60)}", "sql", -1, s.time * 1000, -1L)
          execSpan(s.executionId) = sp
          s.rootExecutionId.foreach(r => execRoot(s.executionId) = r)
        case e: SparkListenerSQLExecutionEnd =>
          execSpan.get(e.executionId).foreach(_.endUs = e.time * 1000)
          ExecutionEndQe(e).foreach(qe => execQe(e.executionId) = qe)
        case _ =>
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).foreach { ex =>
          jobsOf(ex) += 1
          j.stageIds.foreach { st =>
            stagesOf.getOrElseUpdate(ex, mutable.Set()) += st
          }
        }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val a = stageAgg.getOrElseUpdate(t.stageId, new StageAgg)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.taskMs += t.taskInfo.duration
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val info = planInfo(qe)
      Tracer.this.synchronized(plans.put(qe, info))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
        val sp = newSpan(s"stream.batch.${p.batchId}", "batch", -1, start, start + trig * 1000)
        sp.attrs("input_rows") = p.numInputRows.toDouble
        sp.attrs("batch_id") = p.batchId.toDouble
        Option(p.durationMs.get("addBatch")).foreach(v => sp.attrs("add_batch_s") = v / 1e3)
      }
    }
  }

  private def planInfo(qe: QueryExecution): PlanInfo = {
    val phases = qe.tracker.phases
    val planS = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum / 1e3
    val plan: SparkPlan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case x: ShuffleExchangeLike => x }.size
    val joinRows = collectWithSubqueries(plan) {
      case j @ (_: SortMergeJoinExec | _: ShuffledHashJoinExec |
                _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    val write = collect(plan) { case w: DataWritingCommandExec => w }.headOption
    def wm(k: String): Long = write.flatMap(_.metrics.get(k)).map(_.value).getOrElse(0L)
    val path = write.map(_.cmd.toString.linesIterator.take(1).mkString).getOrElse("")
    PlanInfo(planS, exchanges, if (joinRows.isEmpty) 0L else joinRows.max, path,
      wm("numFiles"), wm("numOutputBytes"), wm("numParts"))
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Parent every listener-made span; call once listeners are drained.
    * Idempotent.
    */
  def resolve(): Unit = synchronized {
    val slackUs = 2000L
    val containers = spans.filter(s => s.kind != "sql" && s.endUs > 0)
    def innermost(s: Span, among: Iterable[Span]): Int =
      among.filter(c => c.id != s.id && c.startUs - slackUs <= s.startUs &&
          s.endUs <= c.endUs + slackUs && (c.endUs - c.startUs) >= (s.endUs - s.startUs))
        .toSeq.sortBy(c => c.endUs - c.startUs).headOption.map(_.id).getOrElse(-1)
    spans.filter(s => s.kind == "batch" && s.parent < 0).foreach { b =>
      b.parent = innermost(b, containers.filter(_.kind != "batch"))
    }
    execSpan.foreach { case (ex, sp) =>
      if (sp.endUs < 0) sp.endUs = sp.startUs
      sp.parent = execRoot.get(ex).filter(_ != ex).flatMap(execSpan.get).map(_.id)
        .getOrElse(innermost(sp, containers))
      val agg = execAgg(ex)
      sp.attrs ++= Seq("jobs" -> jobsOf(ex).toDouble, "tasks" -> agg.tasks.toDouble,
        "task_cpu_s" -> agg.cpuNs / 1e9, "task_run_s" -> agg.runMs / 1e3,
        "shuffle_bytes" -> agg.shuffleWrite.toDouble, "spill_bytes" -> agg.spill.toDouble,
        "output_bytes" -> agg.outputBytes.toDouble)
      planOf(ex).foreach { p =>
        sp.attrs ++= Seq("plan_s" -> p.planS, "exchanges" -> p.exchanges.toDouble,
          "max_join_rows" -> p.maxJoinRows.toDouble, "write_files" -> p.writeFiles.toDouble,
          "write_bytes" -> p.writeBytes.toDouble, "write_parts" -> p.writeParts.toDouble)
      }
    }
  }

  /** Stage metrics of one execution summed, with its per-stage task times. */
  def execAgg(ex: Long): StageAgg = {
    val out = new StageAgg
    stagesOf.getOrElse(ex, mutable.Set()).flatMap(stageAgg.get).foreach { a =>
      out.tasks += a.tasks; out.runMs += a.runMs; out.cpuNs += a.cpuNs
      out.shuffleWrite += a.shuffleWrite
      out.spill += a.spill; out.outputBytes += a.outputBytes
    }
    out
  }

  /** max/median task time of the execution's largest stage. */
  def taskSkew(ex: Long): Double = {
    val st = stagesOf.getOrElse(ex, mutable.Set()).flatMap(s => stageAgg.get(s))
    if (st.isEmpty) 0.0 else {
      val big = st.maxBy(_.runMs).taskMs.map(_.toDouble).toSeq
      val med = Stats.median(big)
      if (med <= 0) 1.0 else big.max / med
    }
  }

  def execOf(sp: Span): Option[Long] = synchronized(execSpan.find(_._2.id == sp.id).map(_._1))
  def writePath(ex: Long): String = synchronized(planOf(ex).map(_.writePath).getOrElse(""))

  def all: Seq[Span] = synchronized(spans.toSeq)
  def children(sp: Span): Seq[Span] = all.filter(_.parent == sp.id)
  def descendants(sp: Span): Seq[Span] = children(sp).flatMap(c => c +: descendants(c))

  /** Duration minus the part of it that child spans cover. */
  def selfS(sp: Span): Double = {
    val iv = children(sp).map(c => (math.max(c.startUs, sp.startUs), math.min(c.endUs, sp.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (sp.endUs - sp.startUs - covered) / 1e6
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "parent" -> s.parent, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_s" -> selfS(s), "attrs" -> s.attrs.toMap)
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
