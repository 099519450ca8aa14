package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Intermediates, Pipeline, Router}
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

/** Benchmark driver. Runs one workload in this JVM and writes
  * `result.json` (metrics, attempted/failed counts, input digest) plus the
  * outputs the oracle gate compares, into the work directory.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   perfbench.Main --digest --seed N      (input digest only, no Spark)
  *
  * Every workload: seeded inputs are generated and set up three times
  * (`setup_s` is the median), untimed warm-up operations run, then
  * operations are timed for `--seconds`. With `--trace 1` the first half of
  * the time runs untraced and the second half traced, then layer probes
  * run; the per-layer metrics come from that half and the probes.
  */
object Main {
  /** `table`: what set-up materializes from the generated events — the
    * transcripts store, the stream's source files, or nothing.
    */
  final case class Workload(name: String, turns: Int, docs: Int, table: String)

  val Workloads: Map[String, Workload] = Seq(
    Workload("route_full", 64000, 600, "store"),
    Workload("stream_open_loop", 8000, 200, "stream-files")).map(w => w.name -> w).toMap

  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (argv.contains("--digest")) {
      val seed = kv("seed").toLong
      val w = Workloads(kv.getOrElse("workload", "route_full"))
      println(Inputs.digest(seed, w.turns, w.docs))
      return
    }
    val w0 = Workloads.getOrElse(kv("workload"),
      sys.error(s"unknown workload ${kv("workload")}; known: ${Workloads.keys.mkString(", ")}"))
    // --turns: another input size, for sizing studies only
    val w = kv.get("turns").fold(w0)(t => w0.copy(turns = t.toInt))
    val run = new Run(w, kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1", kv("work"))
    val code = try run.execute() catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.exit(code)
  }
}

final class Run(w: Main.Workload, seed: Long, seconds: Double, trace: Boolean, work: String) {
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  private val ledger = new Ledger
  private val tracer = new Tracer(s"${w.name}-$seed-trace${if (trace) 1 else 0}")
  private var tracing = false
  private var gateChecks = 0
  private var gateFailed = 0
  private val gateNotes = ArrayBuffer[String]()
  /** Queries whose result was dumped under `gate/` for the oracle. */
  private val gateQueries = ArrayBuffer[String]()
  private val inputDir = s"$work/inputs/seed$seed-t${w.turns}-d${w.docs}"
  private val store = new BenchStore(s"$work/store")
  private val gateDir = s"$work/gate"
  /** Process CPU seconds of each set-up, in order. */
  private var setupCpu: Seq[Double] = Nil

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val started = System.nanoTime()
  /** Progress line in the run's log: elapsed seconds at each phase. */
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $name")

  /** Operation and span names carry the layer they exercise. */
  private val RouteOp = "router.route"
  private val StreamOp = "streaming.routeStream"

  /** One timed operation: ledgered always; when tracing, also a span that
    * carries the operation's noise ledger entry.
    */
  private def op(name: String)(body: => Unit): Sample =
    if (!tracing) ledger.timed(name)(body)
    else tracer.span(name, "op") {
      val s = ledger.timed(name)(body)
      tracer.current.foreach(_.attrs ++= Seq("steal_frac" -> s.stealFrac, "jit_s" -> s.jitS,
        "gc_s" -> s.gcS, "codegen_s" -> s.codegenS, "cpu_s" -> s.cpuS))
      s
    }

  /** Closed loop: run `one(i)` back to back until `budget` seconds pass
    * (at least `minOps` times); returns the per-iteration wall times.
    */
  private def loop(budget: Double, minOps: Int)(one: Int => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer[Double]()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < budget) { out += one(i); i += 1 }
    out.toSeq
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Pipeline.configure(s)
    s
  }

  def execute(): Int = {
    Files.createDirectories(Paths.get(gateDir))
    val t0 = System.nanoTime()
    var spark = session(Main.Cores)
    put("jvm.session_start_s", (System.nanoTime() - t0) / 1e9, "s")
    phase("session started")

    // ---- set-up, three times; setup_s is the median process CPU ----
    var gen: Inputs.Generated = null
    val setups = (1 to 3).map { _ =>
      val s0 = System.nanoTime()
      val cpu0 = ledger.processCpuS
      gen = Inputs.write(spark, inputDir, seed, w.turns, w.docs)
      val m0 = System.nanoTime()
      val n = w.table match {
        case "store" => store.materialize(spark, inputDir)
        case "stream-files" => stageStreamFiles(spark)
        case _ => w.turns.toLong
      }
      // stale-store guard: the table holds exactly the generated turns
      require(n == w.turns, s"${w.table} holds $n rows, generated ${w.turns}")
      ((System.nanoTime() - s0) / 1e9, (System.nanoTime() - m0) / 1e9, ledger.processCpuS - cpu0)
    }
    put("setup_s", Stats.median(setups.map(_._3)), "s")
    put("setup_wall_s", Stats.median(setups.map(_._1)), "s")
    setupCpu = setups.map(_._3)
    phase("set up")
    if (w.table != "none") put("sources.materialize_s", Stats.median(setups.map(_._2)), "s")

    w.name match {
      case "route_full" => routeFull(spark)
      case "stream_open_loop" => streamOpenLoop(spark)
    }

    phase("measured")
    if (trace && w.name == "route_full") {
      // single-threaded baseline: the same route on local[1]
      spark.stop()
      spark = session(1)
      val out = s"$work/routed-1core"
      val t = ledger.timed("route_1core")(Router.route(spark, inputDir, out, 1, store))
      put("router.single_core_turns_per_s", w.turns / t.wallS, "turns/s")
      Tables.rmrf(out)
    }
    spark.stop()
    phase("done")

    // ---- noise ledger and end-to-end summary ----
    // per-file stream samples carry latency only; the stream op has the rest
    val timed = ledger.ok.filterNot(s => s.op == "route_1core" || s.op.startsWith("file"))
    put("jvm.jit_compile_s", Stats.median(timed.map(_.jitS)), "s")
    put("jvm.gc_s", Stats.median(timed.map(_.gcS)), "s")
    put("jvm.steal_frac", Stats.median(timed.map(_.stealFrac)), "fraction")
    put("jvm.codegen_compile_s", Stats.median(timed.map(_.codegenS)), "s")
    put("jvm.peak_rss_mb", peakRssMb(), "MB")

    val attempted = ledger.samples.size + gateChecks
    val failed = ledger.failed + gateFailed
    put("ops_attempted", attempted, "count")
    put("failed_ratio", failed.toDouble / math.max(attempted, 1), "fraction")

    if (trace) {
      tracer.resolve()
      // driver-side time of a timed operation not covered by any SQL
      // execution or micro-batch span
      val ops = tracer.all.filter(s => s.kind == "op" && (s.name == RouteOp || s.name == StreamOp))
      if (ops.nonEmpty) put("trace.op_self_s", Stats.median(ops.map(tracer.selfS)), "s")
      tracer.write(s"$work/spans.jsonl")
    }
    Files.writeString(Paths.get(s"$work/ledger.json"), ledger.toJson)
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      Json.value(Seq("q05_attacks", "q06_stats", "q07_traffic", "q08_sink_counts", "q11_lifecycle",
        "q12_rejects", "q25_jaccard_pairs", "q26_minhash_lsh", "q32_dup_clusters")
        .map(q => q -> oracle(q)).toMap))
    Files.writeString(Paths.get(s"$work/result.json"), Json.obj(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed,
      "input_dir" -> inputDir, "input_digest" -> gen.digest,
      "input_props" -> gen.realized, "setup_cpu_s" -> setupCpu, "turns" -> w.turns, "docs" -> w.docs,
      "gate_checks" -> gateChecks, "gate_queries" -> gateQueries.toSeq, "gate_failed" -> gateFailed, "gate_notes" -> gateNotes.toSeq,
      "not_applicable" -> notApplicable,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap))
    0
  }

  /** Name prefixes of the per-layer metrics this workload does not
    * exercise; the result line prints them as 0, and any other missing
    * metric is an error. The stream runs once, traced whole, so it has no
    * untraced twin to take `trace.overhead_s` from.
    */
  private def notApplicable: Seq[String] = w.name match {
    case "route_full" => Seq("streaming.")
    case "stream_open_loop" => Seq("sources.scan", "functions.", "pipeline.", "sparkentry.", "router.",
      "dedupops.", "trace.overhead_s")
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Untraced half, then (trace mode) traced half; returns both halves'
    * per-operation wall times.
    */
  private def timedHalves(spark: SparkSession, minOps: Int)(one: Int => Double): (Seq[Double], Seq[Double]) = {
    phase("warmed up")
    if (!trace) (loop(seconds, minOps)(one), Nil)
    else {
      // two per half, so a traced run stays within its time limit
      val plain = loop(seconds / 2, 2)(one)
      tracer.register(spark)
      tracing = true
      val traced = loop(seconds / 2, 2)(i => one(plain.size + i))
      tracing = false
      tracer.unregister(spark)
      tracer.resolve()
      (plain, traced)
    }
  }

  // ================= route_full =================

  private def routeFull(spark: SparkSession): Unit = {
    val out = s"$work/routed"
    // two warm-up routes: after one, route CPU still fell ~10% over the
    // next three as C1 compiled more of the program
    (1 to 2).foreach(_ => Router.route(spark, inputDir, out, 1, store))
    val (plain, traced) = timedHalves(spark, 3) { i =>
      op(RouteOp)(Router.route(spark, inputDir, out, 1, store)).wallS
    }
    put("op_cpu_s", Stats.median(ledger.samples.take(plain.size).map(_.cpuS).toSeq), "s")
    put("router.latency_p50_s", Stats.median(plain), "s")
    put("router.turns_per_s", w.turns / Stats.median(plain), "turns/s")
    if (trace) put("trace.overhead_s", Stats.median(traced) - Stats.median(plain), "s")
    // the last timed route's sinks stay in place for the oracle gate
    gateChecks += 2
    if (trace) {
      routerLayer()
      Probes.parseLayers(spark, tracer, store, inputDir, w.turns, store.bytes(inputDir), put)
      queryLayers(spark)
    }
  }

  private def routerLayer(): Unit = {
    val routes = tracer.all.filter(s => s.kind == "op" && s.name == RouteOp)
    if (routes.isEmpty) return
    def med(f: Span => Double): Double = Stats.median(routes.map(f))
    def execs(r: Span) = tracer.children(r).filter(_.kind == "sql")
    def byPath(r: Span, frag: String) =
      execs(r).filter(e => tracer.execOf(e).exists(x => tracer.writePath(x).contains(frag)))
    def sum(xs: Seq[Span], k: String) = xs.map(_.attrs.getOrElse(k, 0.0)).sum
    put("router.staged_write_s", med(r => byPath(r, "_staged").map(_.durS).sum), "s")
    put("router.staged_bytes", med(r => sum(byPath(r, "_staged"), "write_bytes")), "bytes")
    put("router.staged_files", med(r => sum(byPath(r, "_staged"), "write_files")), "count")
    put("router.lifecycle_rewrite_s", med(r => byPath(r, "record_type=attacks").map(_.durS).sum), "s")
    put("router.rewrite_bytes", med(r => sum(byPath(r, "record_type=attacks"), "write_bytes")), "bytes")
    put("router.promote_s", med(r => tracer.selfS(r)), "s")
    put("router.task_cpu_s", med(r => sum(execs(r), "task_cpu_s")), "s")
    put("router.shuffle_bytes", med(r => sum(execs(r), "shuffle_bytes")), "bytes")
    put("router.spill_bytes", med(r => sum(execs(r), "spill_bytes")), "bytes")
    put("router.task_skew", med(r => byPath(r, "_staged").flatMap(tracer.execOf)
      .map(tracer.taskSkew).maxOption.getOrElse(0.0)), "ratio")
  }

  // ================= family and dedup queries (traced route_full run) =================

  /** The five family queries of graft.SparkEntry, built over the
    * benchmark's own store through the same Pipeline calls, then the three
    * dedup queries straight from SparkEntry.queries.
    */
  private def queryDefs(s: SparkSession): Seq[(String, () => DataFrame)] = Seq(
    "q05_attacks" -> (() => Pipeline.attacksCorrelated(s, inputDir, store = store).orderBy("conv_id", "turn_idx")),
    "q06_stats" -> (() => Pipeline.statsRecords(s, inputDir, store = store).orderBy("conv_id", "turn_idx")),
    "q07_traffic" -> (() => Pipeline.trafficRecords(s, inputDir, store = store).orderBy("conv_id", "turn_idx")),
    "q11_lifecycle" -> (() => Pipeline.attacksCorrelated(s, inputDir, store = store)
      .filter(col("attack_end_date").isNotNull)
      .orderBy("attack_id", "conv_id", "turn_idx")
      .select("attack_id", "attack_status", "attack_ongoing", "attack_start_date", "attack_end_date")),
    "q12_rejects" -> (() => Pipeline.rejects(s, inputDir, store = store).orderBy("conv_id", "turn_idx"))) ++
    DedupQueries.map(q => q -> (() => SparkEntry.queries(q)(s, inputDir)))

  /** SparkEntry.queries' bodies of the five copied queries, whitespace
    * collapsed. The copies above must follow them: a traced route_full run
    * fails its gate when SparkEntry.scala's body of one of them differs, so
    * the sparkentry.* metrics never time a stale copy. (Their plans cannot
    * be compared instead: SparkEntry's bodies read TranscriptStore, whose
    * cache path lies outside the benchmark's directory.)
    */
  private val CopiedBodies = Map(
    "q05_attacks" -> """Pipeline.attacksCorrelated(s, dir).orderBy("conv_id", "turn_idx")""",
    "q06_stats" -> """Pipeline.statsRecords(s, dir).orderBy("conv_id", "turn_idx")""",
    "q07_traffic" -> """Pipeline.trafficRecords(s, dir).orderBy("conv_id", "turn_idx")""",
    "q11_lifecycle" -> ("""Pipeline.attacksCorrelated(s, dir) .filter(col("attack_end_date").isNotNull) """ +
      """.orderBy("attack_id", "conv_id", "turn_idx") .select("attack_id", "attack_status", """ +
      """"attack_ongoing", "attack_start_date", "attack_end_date")"""),
    "q12_rejects" -> """Pipeline.rejects(s, dir).orderBy("conv_id", "turn_idx")""")

  /** Compare CopiedBodies with the bodies in the program's source. */
  private def checkCopiedBodies(): Unit = {
    val src = Paths.get("src/main/scala/graft/SparkEntry.scala")
    val text = Files.readAllLines(src).toArray.map(_.toString.replaceAll("//.*$", "")).mkString(" ")
      .replaceAll("\\s+", " ")
    CopiedBodies.foreach { case (q, body) =>
      val Entry = ("\"" + q + "\" -> \\(\\(s, dir\\) => (.*?)\\), \"q\\d\\d_").r.unanchored
      val found = text match { case Entry(b) => b.trim case _ => "(not found)" }
      gateChecks += 1
      if (found != body) {
        gateFailed += 1
        gateNotes += s"SparkEntry.queries($q) is now `$found`; perfbench's copy times `$body`"
      }
    }
  }

  private def layerOf(q: String): String = if (DedupQueries.contains(q)) "dedupops" else "sparkentry"
  private val FamilyQueries = Seq("q05_attacks", "q06_stats", "q07_traffic", "q11_lifecycle", "q12_rejects")
  private val DedupQueries = Seq("q25_jaccard_pairs", "q26_minhash_lsh", "q32_dup_clusters")

  /** The family and dedup queries, once each, traced, in an order rotated
    * by half the list so no query follows its usual predecessor. Each
    * result is written to parquet, which the oracle gate reads; their first
    * run in this JVM, so `codegen_compile_s` is reported beside `wall_s`.
    */
  private def queryLayers(spark: SparkSession): Unit = {
    checkCopiedBodies()
    val qs = queryDefs(spark)
    tracer.register(spark)
    tracing = true
    (qs.drop(qs.size / 2) ++ qs.take(qs.size / 2)).foreach { case (q, df) =>
      op(layerOf(q) + "." + q)(df().coalesce(1).write.mode("overwrite").parquet(s"$gateDir/$q"))
      spark.catalog.clearCache()
      Intermediates.release(spark)
      gateChecks += 1
      gateQueries += q
    }
    tracing = false
    tracer.unregister(spark)
    tracer.resolve()
    queryLayer("sparkentry", FamilyQueries, dedup = false)
    queryLayer("dedupops", DedupQueries, dedup = true)
    DedupQueries.foreach { q =>
      val cand = metrics.get(s"dedupops.$q.candidate_rows").map(_._1).getOrElse(0.0)
      val pairs = spark.read.parquet(s"$gateDir/$q").count().toDouble
      put(s"dedupops.$q.pairs_out", pairs, "count")
      put(s"dedupops.$q.useful_ratio", if (cand > 0) pairs / cand else 0.0, "ratio")
    }
  }

  /** Per-query layer metrics from the traced query samples. */
  private def queryLayer(layer: String, names: Seq[String], dedup: Boolean): Unit =
    names.foreach { q =>
      val p = s"$layer.$q"
      val ops = tracer.all.filter(s => s.kind == "op" && s.name == p && s.endUs > 0)
      if (ops.nonEmpty) {
        def med(f: Span => Double): Double = Stats.median(ops.map(f))
        def sum(sp: Span, k: String) = tracer.descendants(sp).filter(_.kind == "sql")
          .map(_.attrs.getOrElse(k, 0.0)).sum
        def execIds(sp: Span) = tracer.descendants(sp).filter(_.kind == "sql").flatMap(tracer.execOf)
        put(s"$p.wall_s", med(_.durS), "s")
        put(s"$p.exchanges", med(sum(_, "exchanges")), "count")
        put(s"$p.shuffle_bytes", med(sum(_, "shuffle_bytes")), "bytes")
        put(s"$p.spill_bytes", med(sum(_, "spill_bytes")), "bytes")
        if (!dedup) {
          put(s"$p.plan_s", med(sum(_, "plan_s")), "s")
          put(s"$p.exec_cpu_s", med(sum(_, "task_cpu_s")), "s")
          val cg = ledger.samples.filter(_.op == p).takeRight(ops.size).map(_.codegenS)
          put(s"$p.codegen_compile_s", Stats.median(cg.toSeq), "s")
        } else {
          put(s"$p.candidate_rows", med(sp => tracer.descendants(sp).filter(_.kind == "sql")
            .map(_.attrs.getOrElse("max_join_rows", 0.0)).maxOption.getOrElse(0.0)), "count")
          put(s"$p.task_skew", med(sp => execIds(sp).map(tracer.taskSkew).maxOption.getOrElse(0.0)), "ratio")
          put(s"$p.jobs", med(sum(_, "jobs")), "count")
        }
      }
    }

  // ================= stream_open_loop =================

  /** 20 steady files of 1/32 of the turns each, then the burst: one file
    * holding the last 12/32, so it cannot be split across two listings.
    */
  private val SteadyFiles = 20
  private val BurstSlices = 12

  private val streamRoot = s"$work/stream"
  private val staging = s"$streamRoot/staging"

  /** Render the transcripts once, split into the stream's files in
    * event-id order (file i holds the i-th slice of event ids, so a stop
    * lands in a later file than its start), outside the source directory.
    * Returns the rows written.
    */
  private def stageStreamFiles(spark: SparkSession): Long = {
    Tables.rmrf(streamRoot)
    val d = Transcripts.derived(spark, inputDir)
    val maxN = d.agg(max("n")).head().getLong(0) + 1
    val slice = (col("n") * (SteadyFiles + BurstSlices) / maxN).cast("int")
    Transcripts.withText(d)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
        col("ts2").as("ts"), least(slice, lit(SteadyFiles)).as("file_idx"))
      .repartition(col("file_idx"))
      .write.partitionBy("file_idx").parquet(staging)
    spark.read.parquet(staging).count()
  }

  private def streamOpenLoop(spark: SparkSession): Unit = {
    val root = streamRoot
    val files = SteadyFiles + 1
    def stagedFile(i: Int) = {
      val ls = Files.list(Paths.get(s"$staging/file_idx=$i"))
      try ls.filter(_.toString.endsWith(".parquet")).findFirst().get() finally ls.close()
    }

    // warm-up: a separate two-file stream
    val warm = s"$root/warm"
    Files.createDirectories(Paths.get(s"$warm/src"))
    (0 until 2).foreach(i => Files.copy(stagedFile(i), Paths.get(s"$warm/src/f$i.parquet")))
    val wq = StreamingPipeline.routeStream(spark, s"$warm/src", s"$warm/out", s"$warm/ckpt")
    wq.processAllAvailable(); wq.stop()

    if (trace) { tracer.register(spark); tracing = true }
    val src = s"$root/src"
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(src))
    val q = StreamingPipeline.routeStream(spark, src, out, ckpt)
    // schedule: the steady files at a fixed rate over 80% of the run, so
    // micro-batches run back to back and each commits the files that fell
    // due while the one before it ran; the burst once every steady file is
    // committed, so it lands on an idle stream and gets batches of its own.
    // The steady window holds the first batch plus about one and a half
    // batch durations (~5 s each at 15 s), so the number of steady batches
    // stays 4 while batch duration moves by a third either way; over the
    // whole run it flipped between 4 and 5, and stream CPU by ~10% with it
    val interval = seconds * 0.8 / SteadyFiles
    val lead = 0.3
    val startMs = System.currentTimeMillis()
    val dueMs = Array.tabulate(files)(i => startMs + ((lead + i * interval) * 1000).toLong)
    val actualMs = new Array[Long](files)
    def release(i: Int): Unit = {
      // written outside the source dir at set-up; renamed in atomically,
      // stamped with its index and due time
      Files.move(stagedFile(i), Paths.get(s"$src/f${"%03d".format(i)}-due${dueMs(i) - startMs}.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      actualMs(i) = System.currentTimeMillis()
    }
    val gen = new Thread(() => {
      (0 until SteadyFiles).foreach { i =>
        val wait = dueMs(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(i)
      }
      val deadline = System.currentTimeMillis() + 60000
      while (!committed(ckpt, 0 until SteadyFiles) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      dueMs(SteadyFiles) = System.currentTimeMillis()
      release(SteadyFiles)
    })
    val sample = op(StreamOp) {
      gen.start()
      gen.join()
      val deadline = System.currentTimeMillis() + 60000
      while (!committed(ckpt, 0 until files) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      q.processAllAvailable()
    }
    q.stop()
    if (trace) { tracing = false; tracer.unregister(spark); tracer.resolve() }

    // file -> batch from the checkpoint's file-source log; batch end from progress
    val fb = fileBatches(ckpt)
    val progress = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + trig, trig, p.numInputRows)
    }.toMap
    val batchEnd: Map[Long, Long] = progress.map { case (b, (end, _, _)) => b -> end }
    val commitMs = (0 until files).map(i => fb.get(i).flatMap(batchEnd.get))
    val uncommitted = commitMs.count(_.isEmpty)
    ledger.samples ++= (0 until files).map(i => Sample(s"file$i",
      commitMs(i).map(c => (c - dueMs(i)) / 1e3).getOrElse(-1.0), commitMs(i).nonEmpty, 0, 0, 0, 0, 0))
    val lat = (0 until SteadyFiles).flatMap(i => commitMs(i).map(c => (c - dueMs(i)) / 1e3))
    // per micro-batch, the mean latency of the steady files it committed
    val batchLat = (0 until SteadyFiles).filter(i => commitMs(i).nonEmpty).groupBy(fb)
      .values.map(is => is.map(i => (commitMs(i).get - dueMs(i)) / 1e3).sum / is.size).toSeq
    put("op_cpu_s", sample.cpuS, "s")
    put("streaming.latency_p50_s", Stats.median(batchLat), "s")
    put("streaming.steady_batches", batchLat.size, "count")
    // drain rate: rows of the micro-batches that committed the burst over
    // their processing time
    val burstBatches = (SteadyFiles until files).flatMap(fb.get).distinct.flatMap(progress.get)
    put("streaming.drain_rows_per_s",
      burstBatches.map(_._3).sum.toDouble / (burstBatches.map(_._2).sum / 1e3), "rows/s")
    val lastBurst = (SteadyFiles until files).flatMap(commitMs).maxOption.getOrElse(dueMs.last)
    val drain = (lastBurst - dueMs(SteadyFiles)) / 1e3
    if (trace) {
      put("streaming.latency_p90_s", Stats.quantile(lat, 0.9), "s")
      put("streaming.drain_s", drain, "s")
      put("streaming.generator_late_s", (0 until files).map(i => (actualMs(i) - dueMs(i)) / 1e3).max, "s")
      val batches = fb.values.toSeq.distinct
      put("streaming.files_per_batch", files.toDouble / math.max(batches.size, 1), "count")
      put("streaming.backlog_files_max", dueMs.map { t =>
        (0 until files).count(i => dueMs(i) <= t && commitMs(i).forall(_ > t)).toDouble }.max, "count")
      val (af, ab) = Tables.footprint(s"$out/_attacks")
      val (lf, lb) = Tables.footprint(s"$out/_lifefacts")
      val (rf, rb) = Tables.footprint(s"$out/_resolved")
      put("streaming.sidecar_files", (af + lf + rf).toDouble, "count")
      put("streaming.state_bytes", (ab + lb + rb).toDouble, "bytes")
      streamLayer()
    }

    // gate: the drained stream equals the batch route over all its files
    val batchOut = s"$root/batch-routed"
    Router.route(spark, "stream-union", batchOut, 1, new FilesTable(src))
    val expected = Router.readRouted(spark, batchOut)
    val streamed = StreamingPipeline.readRoutedStream(spark, out)
    val cols = expected.columns.toSet.intersect(streamed.columns.toSet).toSeq.sorted
    def norm(df: DataFrame) = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val same = streamed.count() == expected.count() &&
      norm(streamed).exceptAll(norm(expected)).isEmpty && norm(expected).exceptAll(norm(streamed)).isEmpty
    gateChecks += 2 // stream == batch here; batch sink counts against the oracle in run.py
    if (!same) { gateFailed += 1; gateNotes += "readRoutedStream differs from Router.readRouted of the union" }
    Files.move(Paths.get(batchOut), Paths.get(s"$work/routed"), StandardCopyOption.REPLACE_EXISTING)
    // uncommitted files count as failed operations (their samples are !ok)
    if (uncommitted > 0) gateNotes += s"$uncommitted files uncommitted at the end of the run"
  }

  /** Whether every file in `idx` is in a micro-batch that has committed. */
  private def committed(ckpt: String, idx: Seq[Int]): Boolean = {
    val fb = fileBatches(ckpt)
    idx.forall(i => fb.get(i).exists(b => Files.exists(Paths.get(s"$ckpt/commits/$b"))))
  }

  /** file index -> batch id, from the checkpoint's file-source log. */
  private def fileBatches(ckpt: String): Map[Int, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.isDirectory(dir)) return Map()
    val ls = Files.list(dir)
    val logs = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally ls.close()
    val Entry = """.*"path":"[^"]*/f(\d+)-due\d+\.parquet".*"batchId":(\d+).*""".r
    logs.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => try Files.readAllLines(p).toArray.map(_.toString).toSeq catch { case _: Exception => Nil })
      .collect { case Entry(i, b) => i.toInt -> b.toLong }.toMap
  }

  private def streamLayer(): Unit = {
    val batches = tracer.all.filter(_.kind == "batch")
    if (batches.isEmpty) return
    def med(f: Span => Double): Double = Stats.median(batches.map(f))
    def byPath(b: Span, frag: String) = tracer.descendants(b).filter(_.kind == "sql")
      .filter(e => tracer.execOf(e).exists(x => tracer.writePath(x).contains(frag)))
    put("streaming.batch_s", med(_.durS), "s")
    put("streaming.write_s.batch_id", med(b => byPath(b, "/batch_id=").filterNot(e =>
      tracer.execOf(e).exists(x => tracer.writePath(x).contains("/_"))).map(_.durS).sum), "s")
    put("streaming.write_s.attacks", med(b => byPath(b, "/_attacks/").map(_.durS).sum), "s")
    put("streaming.write_s.lifefacts", med(b => byPath(b, "/_lifefacts/").map(_.durS).sum), "s")
    put("streaming.resolve_s", med(b => byPath(b, "/_resolved/").map(_.durS).sum), "s")
    put("streaming.touched_buckets", med(b => byPath(b, "/_resolved/")
      .map(_.attrs.getOrElse("write_parts", 0.0)).sum), "count")
  }
}
