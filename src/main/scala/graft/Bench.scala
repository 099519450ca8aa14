package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every SparkEntry query, then
  * measures end-to-end parse->route throughput (turns/sec) at two
  * parallelism levels — N vs 4N cores (default local[4] vs local[16]), the
  * sandbox stand-in for the north rule's N-vs-4N-executor criterion — and
  * reports the scaling efficiency.
  *
  * Every measured pass runs in a FRESH child JVM PINNED (taskset) to its
  * nominal core count, with the hypervisor steal fraction measured per
  * query / per route and put on the record: long-lived JVMs accumulate
  * JIT/GC state that swings repeat timings several-fold, unpinned JVMs
  * size GC/JIT/netty pools off the full machine, and this virtualized
  * host's noisy neighbors shift minute-to-minute — a slow sample without
  * a steal number next to it is a claim, not a measurement.
  *
  * Prints exactly ONE COMPACT JSON line on stdout (totals, flags,
  * throughput, scaling). The per-query maps live in BENCH/last_run.json:
  * the driver's stdout capture window demonstrably truncates a line
  * carrying two 46-entry maps (BENCH_r01..r03 all record `parsed: null`
  * with the tail starting mid-JSON), so the headline stays small enough
  * to always parse and the detail rides the sidecar file.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32),
  * SPARK_GRAFT_REP (amplification, default 32), SPARK_GRAFT_SCALING=0 to
  * skip the two-level run, SPARK_GRAFT_QUERIES=0 to skip the query passes,
  * SPARK_GRAFT_BENCH_DIR to relocate the BENCH record directory (defaults
  * to ./BENCH under the working tree, NOT a hardcoded absolute path).
  */
object Bench {

  /** The transcripts seam (same as SparkEntry.store): Bench only touches
    * the table through the trait, so the Iceberg swap covers the harness.
    */
  private val store: sources.TranscriptTable = sources.TranscriptStore

  /** BENCH record dir derived from env or the working directory, so a
    * checkout anywhere (scripts/submit.sh on a real cluster) writes its
    * records inside its own tree instead of a literal /root/repo.
    */
  private def benchDir: java.nio.file.Path =
    Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR",
      Paths.get(sys.props("user.dir"), "BENCH").toString))

  private def build(cpus: Int): SparkSession = LocalSession(cpus, s"graft-bench-$cpus")

  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Bench sinks live on tmpfs when available: the single shared virtual
    * disk is NOT a scaling resource (on a real cluster sink bandwidth
    * scales with executors; here every core funnels into one device, and
    * noisy-neighbor disk contention is the largest weather term in the
    * scaling measurement). Inputs stay on disk — page-cached after the
    * one-time materialization.
    */
  private def benchSink(cpus: Int): String = {
    val root = sys.env.getOrElse("SPARK_GRAFT_BENCH_SINK",
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm/graft-bench"
      else Paths.get(sys.props("user.dir"), "target", "bench").toString)
    s"$root/sink$cpus"
  }

  /** Child-JVM mode: route twice (cold then warm) at `cpus`; the parent
    * takes the min, which both absorbs JIT warmup and resists the noisy-
    * neighbor drift of this virtualized host.
    */
  private def routeChild(cpus: Int, sfDir: String, rep: Int, n: Int): Unit = {
    val spark = build(cpus)
    store.table(spark, sfDir, rep) // materialized already
    (1 to n).foreach { _ =>
      val sec = time(operators.Router.route(spark, sfDir, benchSink(cpus), rep))
      println(f"ROUTE_SECONDS=$sec%.3f")
    }
    spark.stop()
  }

  /** Child-JVM mode for the per-query passes: runs every SparkEntry query
    * at `cpus` in name order, `mode` = "count" (count()-forced; Catalyst
    * may prune output projections) or "exec" (full materialization through
    * the noop sink). The steal fraction AND the child's own process-CPU
    * seconds are measured around EACH query: steal only sees hypervisor
    * preemption, so a wall time far above cpu/cores with steal 0 is
    * involuntary wait (IO / memory-bandwidth / cache interference from
    * neighbors) ON the record instead of an asserted "host weather" —
    * the r4 adjudication gap. One line per query:
    *   QUERY_RESULT=<name>,<wallSec>,<steal>,<cpuSec>
    * plus a warm repeat of the same plan in BOTH modes:
    *   QUERY_WARM=<name>,<wallSec>,<cpuSec>
    * (a first run dwarfing its warm repeat is one-time plan compilation;
    * the parent computes regression flags on min(first, warm)).
    */
  private def queriesChild(cpus: Int, sfDir: String, mode: String): Unit = {
    val spark = build(cpus)
    store.table(spark, sfDir) // input materialization = setup
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def once(): (Double, Double) = {
        val c0 = osBean.getProcessCpuTime
        val sec = try time {
          if (mode == "count") fn(spark, sfDir).count()
          else fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        } catch { case _: Throwable => -1.0 }
        (sec, (osBean.getProcessCpuTime - c0) / 1e9)
      }
      val j0 = cpuJiffies()
      val (sec, cpu) = once()
      val steal = stealFrac(j0, cpuJiffies())
      spark.catalog.clearCache() // no query serves a predecessor's cache
      operators.Intermediates.release(spark)
      println(f"QUERY_RESULT=$name,$sec%.3f,$steal%.3f,$cpu%.3f")
      val (w, wcpu) = once()
      spark.catalog.clearCache()
      operators.Intermediates.release(spark)
      println(f"QUERY_WARM=$name,$w%.3f,$wcpu%.3f")
    }
    spark.stop()
  }

  /** (idle, steal, total) jiffies from /proc/stat's aggregate cpu line. */
  private def cpuJiffies(): (Long, Long, Long) = {
    val cols = scala.io.Source.fromFile("/proc/stat").getLines()
      .next().trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal guest guest_nice
    (cols(3), if (cols.length > 7) cols(7) else 0L, cols.sum)
  }

  /** Hypervisor steal fraction of non-idle time across an interval — the
    * direct measurement of neighbor interference on this shared VM. A
    * 16-core route at 2x its best-window time with steal% to match is
    * host weather on the record; without this number it is only a claim.
    */
  private def stealFrac(before: (Long, Long, Long), after: (Long, Long, Long)): Double = {
    val busy = (after._3 - before._3) - (after._1 - before._1)
    if (busy <= 0) 0.0 else (after._2 - before._2).toDouble / busy
  }

  /** Spawn a fresh JVM running routeChild; returns the timed seconds and
    * the steal fraction measured across the child's lifetime.
    * `n` routes, min taken: route 1 is cold (page cache + JIT), so n=2
    * yields one warm sample and n=3 two — the headline throughput child
    * uses 3 so a single slow warm window can't set the record.
    */
  private def spawnRouteSteal(cpus: Int, sfDir: String, rep: Int,
                              n: Int = 2): (Double, Double) = {
    val (sec, steal, _) = spawnRouteAll(cpus, sfDir, rep, n)
    (sec, steal)
  }

  /** spawnRouteSteal + EVERY per-route time (cold first), so a headline
    * sample carries its own distribution on the record.
    */
  private def spawnRouteAll(cpus: Int, sfDir: String, rep: Int,
                            n: Int = 2): (Double, Double, Seq[Double]) = {
    val j0 = cpuJiffies()
    val secs = spawnRouteInner(cpus, sfDir, rep, n)
    (if (secs.isEmpty) -1.0 else secs.min, stealFrac(j0, cpuJiffies()), secs)
  }

  /** The shared pinned-fresh-JVM child launcher. taskset ENFORCES the core
    * budget: local[N] only bounds Spark task threads — GC/JIT/netty/
    * compression threads size themselves off the full machine (a
    * "local[4]" child measured 13 busy cores), which silently hands a low
    * parallelism level extra compute. Under an affinity mask the JVM's
    * availableProcessors (and so its GC/compiler pools) match the nominal
    * level, the way a real N-core executor container would.
    */
  private def spawnChild(cpus: Int, childArgs: Seq[String]): String = {
    val java = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val pin =
      if (Files.exists(Paths.get("/usr/bin/taskset")))
        Seq("/usr/bin/taskset", "-c", s"0-${cpus - 1}")
      else Seq.empty
    // under spark-submit the app jar rides a MutableURLClassLoader, NOT
    // java.class.path — append our own code source so the child finds
    // graft.Bench either way (harmless duplicate under sbt run)
    val selfJar = Option(Bench.getClass.getProtectionDomain.getCodeSource)
      .map(_.getLocation.getPath).filter(_.nonEmpty).toSeq
    val cp = (System.getProperty("java.class.path") +: selfJar)
      .mkString(_root_.java.io.File.pathSeparator)
    val cmd = (pin ++ Seq(java) ++ addOpens ++ Seq(
      "-Xmx24g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", cp, "graft.Bench") ++ childArgs).toArray
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    proc.waitFor()
    out
  }

  private def spawnRouteInner(cpus: Int, sfDir: String, rep: Int, n: Int = 2): Seq[Double] = {
    val out = spawnChild(cpus,
      Seq("--route", cpus.toString, sfDir, rep.toString, n.toString))
    // surface the child's per-phase route timings for scaling diagnosis
    out.linesIterator.filter(l => l.startsWith("[route]") || l.startsWith("ROUTE_SECONDS"))
      .foreach(l => System.err.println(s"[bench child cpus=$cpus] $l"))
    val secs = "ROUTE_SECONDS=([0-9.]+)".r.findAllMatchIn(out).map(_.group(1).toDouble).toSeq
    if (secs.isEmpty)
      System.err.println(s"[bench] child cpus=$cpus failed:\n" + out.takeRight(2000))
    secs
  }

  /** One pinned fresh-JVM query pass; (name, wall sec, steal, cpu sec) per
    * query plus the warm-repeat map (name -> (wall, cpu)).
    */
  private def spawnQueries(cpus: Int, sfDir: String, mode: String)
      : (Seq[(String, Double, Double, Double)], Map[String, (Double, Double)]) = {
    val out = spawnChild(cpus, Seq("--queries", cpus.toString, sfDir, mode))
    val re = "QUERY_RESULT=([^,]+),(-?[0-9.]+),([0-9.]+),(-?[0-9.]+)".r
    val rows = re.findAllMatchIn(out)
      .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble,
        m.group(4).toDouble)).toSeq
    val warm = "QUERY_WARM=([^,]+),(-?[0-9.]+),(-?[0-9.]+)".r.findAllMatchIn(out)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble)).toMap
    if (rows.isEmpty)
      System.err.println(s"[bench] queries child mode=$mode cpus=$cpus failed:\n" +
        out.takeRight(2000))
    (rows, warm)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 4 && args(0) == "--route") {
      routeChild(args(1).toInt, args(2), args(3).toInt,
        if (args.length >= 5) args(4).toInt else 2)
      return
    }
    if (args.length >= 4 && args(0) == "--queries") {
      queriesChild(args(1).toInt, args(2), args(3))
      return
    }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rep = sys.env.getOrElse("SPARK_GRAFT_REP", "32").toInt
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"

    // input materialization (the "Iceberg table") is setup, not workload
    val spark = build(cpus)
    store.table(spark, sfDir)
    val nTurns = store.table(spark, sfDir, rep).count()
    spark.stop()

    // ---- per-query timings: two pinned fresh-JVM passes ----
    // count() lets Catalyst prune the output projection (a map-only
    // query's regex/decode work vanishes and unreferenced lifecycle joins
    // are eliminated), so the count column understates map-heavy queries.
    // The noop write materializes every output column with zero sink I/O —
    // the honest "run the query" number. Both columns are recorded; count
    // stays for cross-round comparability. Separate JVMs per pass:
    // operators that persist() intermediates (tfidf tf, shingle indexes)
    // would otherwise serve the exec pass from the count pass's
    // plan-matched cache blocks.
    val skipQueries = sys.env.get("SPARK_GRAFT_QUERIES").contains("0")
    type QRows = Seq[(String, Double, Double, Double)]
    val (countRows, countWarm) =
      if (skipQueries) (Seq.empty: QRows, Map.empty[String, (Double, Double)])
      else spawnQueries(cpus, sfDir, "count")
    val (execRows, execWarm) =
      if (skipQueries) (Seq.empty: QRows, Map.empty[String, (Double, Double)])
      else spawnQueries(cpus, sfDir, "exec")
    val results = countRows.map { case (n, s, _, _) => n -> s }
    val resultsExec = execRows.map { case (n, s, _, _) => n -> s }
    // Regression tripwire (VERDICT r2 item 6): a query whose full
    // materialization costs >5x its count()-forced time is re-evaluating a
    // pruned subtree (the q11-class double-parse bug). BOTH sides use
    // min(first, warm): the warm repeats strip one-time plan compilation
    // (codegen/JIT) from numerator and denominator alike, so neither a
    // warmup-inflated first count nor a congestion-inflated first exec
    // can fire (or mask) a flag by itself — the r4 q22-q24 adjudication,
    // now self-contained. Floor of 5s keeps sub-second noise out; the
    // per-query cpu seconds beside each wall time let a surviving flag be
    // read directly (wall >> cpu/cores at steal 0 = involuntary wait).
    val countMap = results.toMap
    val baseMap = results.map { case (k, v) =>
      val w = countWarm.get(k).map(_._1).getOrElse(-1.0)
      k -> math.max(if (w > 0) math.min(v, w) else v, 0.001)
    }.toMap
    val execMinMap = resultsExec.map { case (k, e) =>
      val w = execWarm.get(k).map(_._1).getOrElse(-1.0)
      k -> (if (w > 0 && e > 0) math.min(e, w) else e)
    }.toMap
    val execFlags = resultsExec.collect {
      case (k, _) if countMap.getOrElse(k, -1.0) > 0 &&
        execMinMap(k) > 5 * baseMap(k) && execMinMap(k) > 5.0 => k
    }
    val execCpuMap = execRows.map(r => r._1 -> r._4).toMap
    execFlags.foreach(k => System.err.println(
      f"[bench] WARN exec/count > 5x for $k: count=${countMap(k)}%.2f s " +
        f"exec=min(${resultsExec.toMap.apply(k)}%.2f, warm ${execWarm.get(k).map(_._1).getOrElse(-1.0)}%.2f) s " +
        f"cpu=${execCpuMap.getOrElse(k, -1.0)}%.2f s"))

    // ---- end-to-end throughput in fresh child JVMs ----
    val (secMain, stealMain, runsMain) = spawnRouteAll(cpus, sfDir, rep, n = 3)
    val thruMain = nTurns / secMain
    // scaling runs use a larger table so the ~5s of per-route driver-side
    // commit/planning floor stays <5% of the low-parallelism runtime
    val scaleRep = sys.env.get("SPARK_GRAFT_SCALE_REP").map(_.toInt)
      .getOrElse(math.max(rep, 64))
    // N vs 4N cores: default 4 -> 16 so both levels sit below host
    // saturation (at 32 the virtualized host itself only yields ~3.4x of
    // 8 cores on pure CPU burn — a 0.86 ceiling before Spark is involved).
    val levels = sys.env.getOrElse("SPARK_GRAFT_SCALE_LEVELS", "4,16")
      .split(",").map(_.trim.toInt)
    val (nLo, nHi) = (levels(0), levels(1))
    // Interleaved (lo, hi) rounds, min per level across rounds: host weather
    // (noisy virtualized neighbors) shifts minute-to-minute, and a single
    // child per level lets one bad window corrupt the ratio. EVERY per-run
    // time is reported (scale_runs_*) so the distribution — not just the
    // headline — is on the record.
    case class Scaling(tLo: Double, tHi: Double, eff: Double,
                       runsLo: Seq[Double], runsHi: Seq[Double], turns: Long,
                       stealLo: Seq[Double], stealHi: Seq[Double])
    val scaling: Option[Scaling] = if (doScaling) {
      val sSpark = build(cpus)
      val scaleTurns = store.table(sSpark, sfDir, scaleRep).count()
      sSpark.stop()
      // ALL rounds always run (no early exit on a lucky sample): the
      // headline is min-of-rounds with every per-run time on the record,
      // so one noisy window can neither set nor sink the number.
      val maxRounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "2").toInt
      var lo = Vector.empty[Double]
      var hi = Vector.empty[Double]
      var stLo = Vector.empty[Double]
      var stHi = Vector.empty[Double]
      def eff: Double =
        if (lo.isEmpty || hi.isEmpty) 0.0
        else ((scaleTurns / hi.min) / (scaleTurns / lo.min)) / (nHi.toDouble / nLo)
      var round = 0
      while (round < maxRounds) {
        val (l, sl) = spawnRouteSteal(nLo, sfDir, scaleRep)
        val (h, sh) = spawnRouteSteal(nHi, sfDir, scaleRep)
        if (l > 0) { lo :+= l; stLo :+= sl }
        if (h > 0) { hi :+= h; stHi :+= sh }
        round += 1
        System.err.println(f"[bench] scaling round $round: eff=$eff%.3f lo=$lo hi=$hi " +
          f"steal_lo=${stLo.map(s => f"$s%.2f")} steal_hi=${stHi.map(s => f"$s%.2f")}")
      }
      if (lo.isEmpty || hi.isEmpty) None
      else Some(Scaling(scaleTurns / lo.min, scaleTurns / hi.min, eff, lo, hi, scaleTurns,
        stLo, stHi))
    } else None

    val total = results.map(_._2).sum
    val totalExec = resultsExec.map(_._2).sum
    def qmap(rows: Seq[(String, Double)]) =
      rows.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val scalingJson = scaling.map { s =>
      def arr(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
      f""","scale_cores_n":$nLo,"scale_cores_4n":$nHi,"scale_turns":${s.turns},"throughput_n":${s.tLo}%.0f,"throughput_4n":${s.tHi}%.0f,"scale_runs_n_sec":${arr(s.runsLo)},"scale_runs_4n_sec":${arr(s.runsHi)},"scale_steal_n":${arr(s.stealLo)},"scale_steal_4n":${arr(s.stealHi)},"scaling_efficiency":${s.eff}%.3f"""
    }.getOrElse("")
    val flagsJson = execFlags.map(k => s""""$k"""").mkString("[", ",", "]")
    Files.createDirectories(benchDir)
    // Section JSON fragments persist like the .md sidecars: a PARTIAL
    // rerun (headline-only, or queries-only) keeps the latest COMPLETE
    // measurement of the other sections in last_run.json instead of
    // clobbering them. stdout only ever carries THIS run's sections.
    val scalingFrag = benchDir.resolve("scaling_run.json.frag")
    if (scalingJson.nonEmpty) Files.writeString(scalingFrag, scalingJson)
    val queriesFrag = benchDir.resolve("queries_run.json.frag")
    val queriesJson =
      if (skipQueries) ""
      else f""","value":$total%.3f,"n_queries":${results.size},"total_exec":$totalExec%.3f,"exec_flags":$flagsJson,"queries":${qmap(results)},"queries_count_warm":${qmap(results.map(r => r._1 -> countWarm.get(r._1).map(_._1).getOrElse(-1.0)))},"queries_exec":${qmap(resultsExec)},"queries_exec_warm":${qmap(resultsExec.map(r => r._1 -> execWarm.get(r._1).map(_._1).getOrElse(-1.0)))},"queries_steal":${qmap(countRows.map(r => r._1 -> r._3))},"queries_exec_steal":${qmap(execRows.map(r => r._1 -> r._3))},"queries_cpu":${qmap(countRows.map(r => r._1 -> r._4))},"queries_exec_cpu":${qmap(execRows.map(r => r._1 -> r._4))}"""
    if (queriesJson.nonEmpty) Files.writeString(queriesFrag, queriesJson)
    // COMPACT stdout line (driver record): headline numbers only — the two
    // 47-entry per-query maps overflow the driver's stdout capture window
    // (BENCH_r01..r03 all came back `parsed: null` with the tail starting
    // mid-JSON). Full per-query detail: BENCH/last_run.json.
    val runsMainJson = runsMain.map(x => f"$x%.2f").mkString("[", ",", "]")
    val headline =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"total_exec":$totalExec%.3f,"exec_flags":$flagsJson,"queries_detail":"BENCH/last_run.json","sf":"$sfDir","turns":$nTurns,"rep":$rep,"pipeline_sec":$secMain%.3f,"pipeline_runs_sec":$runsMainJson,"pipeline_steal":$stealMain%.2f,"turns_per_sec":$thruMain%.0f$scalingJson}"""
    println(headline)
    // the full record: this run's headline + the latest complete section
    // fragments (fresh ones were just written above)
    def frag(p: java.nio.file.Path) =
      if (Files.exists(p)) Files.readString(p) else ""
    val fullLine =
      f"""{"metric":"total","unit":"sec","sf":"$sfDir","turns":$nTurns,"rep":$rep,"pipeline_sec":$secMain%.3f,"pipeline_runs_sec":$runsMainJson,"pipeline_steal":$stealMain%.2f,"turns_per_sec":$thruMain%.0f${frag(scalingFrag)}${frag(queriesFrag)}}"""
    Files.writeString(benchDir.resolve("last_run.json"), fullLine + "\n")

    // ---- refresh BENCH/BASELINE.md ----
    val md = new StringBuilder
    md ++= "# BENCH/BASELINE — measured numbers (latest run)\n\n"
    md ++= s"Input: transcripts synthesized from `$sfDir/events.parquet` x$rep = $nTurns turns.\n"
    md ++= "Each scaling point = min across interleaved fresh-JVM children x 2 routes each\n"
    md ++= "(parse once -> staged partitioned parquet sinks -> MERGE lifecycle rewrite).\n"
    md ++= "Sinks on tmpfs (/dev/shm): the single shared virtual disk is not a scaling\n"
    md ++= "resource — on a real cluster sink bandwidth scales with executors, so disk\n"
    md ++= "contention here would measure the host, not the engine. Inputs stay on disk.\n\n"
    md ++= "## End-to-end parse->route throughput (turns/sec)\n\n"
    md ++= "| parallelism | turns | seconds | turns/sec |\n|---|---|---|---|\n"
    md ++= f"| local[$cpus] (bench run) | $nTurns | $secMain%.2f | $thruMain%.0f |\n"
    md ++= f"\nHeadline = min of ${runsMain.size} routes in one fresh pinned child (all runs: "
    md ++= runsMain.map(x => f"$x%.1f").mkString(", ")
    md ++= f" s; child-lifetime steal $stealMain%.2f). Route 1 is cold (page cache + JIT);\n"
    md ++= "the 32-core level has no pinned headroom, so congested windows show up as\n"
    md ++= "run dispersion here rather than as steal.\n"
    // Sections persist as sidecar fragments so a PARTIAL rerun (headline
    // only, or queries only) cannot clobber the full record of a prior run:
    // the md always shows the latest COMPLETE measurement of each section.
    val scalingSection = benchDir.resolve("scaling_section.md")
    scaling.foreach { s =>
      val sm = new StringBuilder
      sm ++= "\n## Scaling: N vs 4N cores (same job, same input)\n\n"
      sm ++= "| parallelism | turns | seconds | turns/sec |\n|---|---|---|---|\n"
      sm ++= f"| local[$nLo] (N)   | ${s.turns} | ${s.turns / s.tLo}%.2f | ${s.tLo}%.0f |\n"
      sm ++= f"| local[$nHi] (4N) | ${s.turns} | ${s.turns / s.tHi}%.2f | ${s.tHi}%.0f |\n"
      sm ++= f"\nScaling efficiency local[$nLo]->local[$nHi] (sandbox stand-in for N->4N executors): **${s.eff}%.3f** (target >= 0.8).\n"
      sm ++= f"Per-run route seconds (all runs on the record): local[$nLo] = ${s.runsLo.map(x => f"$x%.1f").mkString(", ")}; "
      sm ++= f"local[$nHi] = ${s.runsHi.map(x => f"$x%.1f").mkString(", ")}.\n"
      sm ++= f"Measured hypervisor steal (fraction of busy jiffies, per run): local[$nLo] = "
      sm ++= f"${s.stealLo.map(x => f"$x%.2f").mkString(", ")}; local[$nHi] = ${s.stealHi.map(x => f"$x%.2f").mkString(", ")}.\n"
      sm ++= f"All ${s.runsLo.size} interleaved rounds ran to completion (no early exit on a lucky\n"
      sm ++= "sample); headline = min per level with the full per-run distribution above.\n"
      sm ++= "Each child JVM is PINNED (taskset) to its nominal core count: local[N] only\n"
      sm ++= "bounds Spark task threads — GC/JIT/netty pools size themselves off the full\n"
      sm ++= "machine (an unpinned \"local[4]\" child measured 13 busy cores), which hands\n"
      sm ++= "the low level hidden compute and corrupts the N-vs-4N ratio; under an\n"
      sm ++= "affinity mask availableProcessors (and so every pool) matches the level,\n"
      sm ++= "the way a real N-core executor container would.\n"
      sm ++= "Levels sit below host saturation: the virtualized 32-vCPU host itself yields only ~3.4x\n"
      sm ++= "going 8->32 on a pure CPU burn (0.86 ceiling), so N=4 vs 4N=16 isolates the ENGINE's\n"
      sm ++= "scaling from hypervisor saturation; the per-run steal fractions above put\n"
      sm ++= "neighbor interference on the record run by run.\n"
      sm ++= "\nMeasurement context (single shared VM; the real criterion is scale-OUT across nodes):\n"
      sm ++= "- The plan itself is narrow map-only parse->explode->write plus one small exchange\n"
      sm ++= "  (lifecycle facts); per-route serial floor ~5s of driver commit/planning.\n"
      Files.writeString(scalingSection, sm.toString)
    }
    if (Files.exists(scalingSection)) md ++= Files.readString(scalingSection)
    val queriesSection = benchDir.resolve("queries_section.md")
    if (!skipQueries) {
      val qm = new StringBuilder
      qm ++= "\n## Per-query seconds (pinned fresh JVM per pass; count = count()-forced,\n"
      qm ++= "Catalyst may prune output projections; warm = the SAME plan run again —\n"
      qm ++= "a first run dwarfing its warm repeat is one-time plan compilation\n"
      qm ++= "(codegen/JIT), not engine steady-state; exec = full materialization through\n"
      qm ++= "the noop sink; cache cleared between queries; steal = hypervisor steal\n"
      qm ++= "fraction measured across THAT query (coarse below ~1 s); cpu = the child's\n"
      qm ++= "process-CPU seconds across that query — wall far above cpu/cores at steal 0\n"
      qm ++= "is involuntary wait (IO / memory-bandwidth neighbor interference the steal\n"
      qm ++= "counter cannot see), on the record instead of asserted. Regression flags\n"
      qm ++= "fire on min(first, warm) of BOTH passes.)\n\n"
      qm ++= "| query | count sec | warm | steal | cpu | exec sec | warm | steal | cpu |\n|---|---|---|---|---|---|---|---|---|\n"
      val execMap = execRows.map(r => r._1 -> (r._2, r._3, r._4)).toMap
      countRows.foreach { case (k, v, st, cp) =>
        val (e, est, ecp) = execMap.getOrElse(k, (-1.0, 0.0, -1.0))
        qm ++= f"| $k | $v%.3f | ${countWarm.get(k).map(_._1).getOrElse(-1.0)}%.3f | $st%.2f | $cp%.1f " +
          f"| $e%.3f | ${execWarm.get(k).map(_._1).getOrElse(-1.0)}%.3f | $est%.2f | $ecp%.1f |\n"
      }
      qm ++= f"\nTotals: count ${total}%.1f s, exec ${totalExec}%.1f s over ${results.size} queries. "
      qm ++= (if (execFlags.isEmpty) "No query exceeds 5x its count time on full materialization (min of first/warm).\n"
              else s"exec>5x flags (min of first/warm): ${execFlags.mkString(", ")}.\n")
      Files.writeString(queriesSection, qm.toString)
    }
    if (Files.exists(queriesSection)) md ++= Files.readString(queriesSection)
    md ++= "\nReference baseline: the reference plugin publishes no numbers (BASELINE.md); "
    md ++= "its architecture is single-threaded-per-socket Ruby with a blocking ES RPC per stop event.\n"
    Files.writeString(benchDir.resolve("BASELINE.md"), md.toString)

    // tmpfs sinks are scratch: free the RAM they pin
    Seq(nLo, nHi, cpus).distinct.map(benchSink)
      .foreach(p => operators.Router.rmrf(Paths.get(p)))
  }
}
