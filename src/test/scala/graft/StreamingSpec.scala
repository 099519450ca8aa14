package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingPipeline

/** Structured Streaming specs: the routed stream's per-batch W3 lifecycle
  * MERGE against Router.route, the file-stream parse path against the
  * batch result, StreamMain's drains, and the per-sink counts: watermarked
  * windows over MemoryStream micro-batches and the exact pair state with its
  * compaction.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  /** The streamed routed sinks hold the batch route's rows on every shared
    * column, as a multiset; values compare as strings, since the two sink
    * layouts infer partition column types differently.
    */
  private def assertSameRoutes(streamed: DataFrame, expected: DataFrame, ctx: String = ""): Unit = {
    val cols = expected.columns.toSet.intersect(streamed.columns.toSet).toSeq.sorted
    assert(cols.contains("attack_ongoing") && cols.contains("attack_end_date"))
    def norm(df: DataFrame) = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    assert(streamed.count() == expected.count(), ctx)
    assert(norm(streamed).exceptAll(norm(expected)).isEmpty, ctx)
    assert(norm(expected).exceptAll(norm(streamed)).isEmpty, ctx)
  }

  test("writeRoutedBatch applies Router's MERGE in any batch order of starts and stops") {
    def mk(aid: Int, evt: String, t: String) =
      "<134>x b info tmm1: [hostname=b.lab bigip_mgmt_ip=172.16.21.41 " +
        s"date_time=2015-03-22 $t dos_attack_id=$aid dos_attack_event=Attack $evt " +
        "severity=1 errdefs_msg_name=Network DoS Event]"
    // (micro-batch, payload); transcriptsOf keys turn i as (conv-i, i)
    val turns = Seq(
      0 -> mk(1, "Started", "10:00:00"),
      0 -> mk(2, "Started", "10:00:01"),
      0 -> mk(2, "Started", "10:00:02"),
      1 -> mk(1, "Stopped", "10:05:00"), // one start: closes
      1 -> mk(2, "Stopped", "10:05:01"), // two starts: log only
      1 -> mk(9, "Stopped", "10:05:02"), // orphan: no attacks row
      1 -> mk(1, "Sampled", "10:03:00"), // a stats row sharing id 1
      0 -> mk(3, "Stopped", "10:06:00"), // a stop batched before its start
      1 -> mk(3, "Started", "10:01:00"),
      0 -> mk(4, "Started", "10:02:00"), // start, stop, then a second start
      1 -> mk(4, "Stopped", "10:07:00"),
      2 -> mk(4, "Started", "10:08:00"))
    val texts = turns.map(_._2)
    val exploded = StreamingPipeline.streamRecordsAll(spark, transcriptsOf(texts)).persist()
    val outPath = tmpDir("graft-w3-stream")
    def route(batch: Int): Unit = {
      val idx = turns.map(_._1).zipWithIndex.collect { case (`batch`, i) => i }
      StreamingPipeline.writeRoutedBatch(outPath)(
        exploded.filter(col("turn_idx").isin(idx: _*)), batch.toLong)
    }
    // attack_id -> (attack_ongoing, attack_end_date) of each attacks row
    def attacks(): Map[Long, Seq[(Int, String)]] =
      StreamingPipeline.readRoutedStream(spark, outPath)
        .filter(col("record_type") === "attacks")
        .select("attack_id", "attack_ongoing", "attack_end_date").collect().toSeq
        .groupMap(_.getLong(0))(r => (r.getInt(1), r.getString(2)))
    val open = (1, null: String)
    route(0)
    route(1)
    assert(attacks() == Map(1L -> Seq((0, "2015-03-22T10:05:00")), 2L -> Seq(open, open),
      3L -> Seq((0, "2015-03-22T10:06:00")), 4L -> Seq((0, "2015-03-22T10:07:00"))))
    route(2)
    assert(attacks()(4L) == Seq(open, open), "a second start must reopen attack 4")

    object Turns extends graft.sources.TranscriptTable {
      def table(spark: SparkSession, dir: String, rep: Int): DataFrame = transcriptsOf(texts)
      def snapshotId(spark: SparkSession, dir: String, rep: Int): String = texts.hashCode.toString
    }
    val batchOut = tmpDir("graft-w3-batch")
    graft.operators.Router.route(spark, "w3-turns", batchOut, 1, Turns)
    assertSameRoutes(StreamingPipeline.readRoutedStream(spark, outPath),
      graft.operators.Router.readRouted(spark, batchOut))
    exploded.unpersist()
  }

  test("streamed route converges to the batch Router.route output (lifecycle applied)") {
    val dir = "/root/testdata/sf0.001"
    val all = graft.sources.TranscriptStore.table(spark, dir)
    val srcPath = tmpDir("graft-conv-src")
    val outPath = tmpDir("graft-conv-out")
    val ckpt = tmpDir("graft-conv-ckpt")

    // two arrival phases so lifecycle stops land in LATER micro-batches
    // than their starts (turn parity splits start/stop pairs arbitrarily)
    all.filter(col("turn_idx") % 2 === 0).write.mode("append").parquet(srcPath)
    val q1 = StreamingPipeline.routeStream(spark, srcPath, outPath, ckpt)
    q1.processAllAvailable(); q1.stop()
    all.filter(col("turn_idx") % 2 === 1).write.mode("append").parquet(srcPath)
    val q2 = StreamingPipeline.routeStream(spark, srcPath, outPath, ckpt)
    q2.processAllAvailable(); q2.stop()

    val batchOut = tmpDir("graft-conv-batch")
    graft.operators.Router.route(spark, dir, batchOut)
    val expected = graft.operators.Router.readRouted(spark, batchOut)
    val streamed = StreamingPipeline.readRoutedStream(spark, outPath)
    // full-row equality INCLUDING the lifecycle columns (attack_ongoing,
    // attack_end_date)
    assertSameRoutes(streamed, expected)
    // and the stream really did close attacks (not all-ongoing as before)
    assert(streamed.filter(col("record_type") === "attacks" &&
      col("attack_ongoing") === 0).count() > 0)
  }

  test("writeRoutedBatch replay is idempotent: records, facts and resolved attacks") {
    val dir = "/root/testdata/sf0.001"
    val outPath = tmpDir("graft-routed-replay")
    val exploded = StreamingPipeline.streamRecordsAll(spark,
      graft.sources.TranscriptStore.table(spark, dir))
    val b0 = exploded.filter(col("turn_idx") % 2 === 0)
    val b1 = exploded.filter(col("turn_idx") % 2 === 1)
    StreamingPipeline.writeRoutedBatch(outPath)(b0, 0L)
    StreamingPipeline.writeRoutedBatch(outPath)(b1, 1L)
    val resolved = StreamingPipeline.readRoutedStream(spark, outPath)
    val before = resolved.count()
    val closedBefore = resolved.filter(col("attack_ongoing") === 0).count()
    // sink-side crash replay: batch 1 delivered again with the same rows
    StreamingPipeline.writeRoutedBatch(outPath)(b1, 1L)
    val after = StreamingPipeline.readRoutedStream(spark, outPath)
    assert(after.count() == before)
    assert(after.filter(col("attack_ongoing") === 0).count() == closedBefore)
  }

  test("a micro-batch writes only its own batch directory and the resolved sink") {
    val dir = "/root/testdata/sf0.001"
    val outPath = tmpDir("graft-routed-writeset")
    val root = java.nio.file.Paths.get(outPath)
    val exploded = StreamingPipeline.streamRecordsAll(spark,
      graft.sources.TranscriptStore.table(spark, dir))
    val part = pmod(hash(col("conv_id"), col("turn_idx")), lit(4))
    // every file under outRoot -> its mtime
    def files(): Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.getLastModifiedTime(f)).toMap
      finally walk.close()
    }
    // the files a write created, changed or deleted, outside the allowed dirs
    def strays(before: Map[String, java.nio.file.attribute.FileTime], allowed: Seq[String]) = {
      val after = files()
      (before.keySet ++ after.keySet).filter(f => before.get(f) != after.get(f))
        .filterNot(f => allowed.exists(f.startsWith))
    }
    (0 until 3).foreach(i =>
      StreamingPipeline.writeRoutedBatch(outPath)(exploded.filter(part === i), i.toLong))
    val before = files()
    StreamingPipeline.writeRoutedBatch(outPath)(exploded.filter(part === 3), 3L)
    val changed = strays(before, Seq("batch_id=3/", "_resolved/"))
    assert(changed.isEmpty, s"batch 3 wrote outside its own directory and _resolved: $changed")
    // an empty batch writes its own directory only: the resolve does not run
    val settled = files()
    StreamingPipeline.writeRoutedBatch(outPath)(exploded.limit(0), 4L)
    val emptyChanged = strays(settled, Seq("batch_id=4/"))
    assert(emptyChanged.isEmpty, s"an empty batch wrote outside its own directory: $emptyChanged")

    val batchOut = tmpDir("graft-writeset-batch")
    graft.operators.Router.route(spark, dir, batchOut)
    assertSameRoutes(StreamingPipeline.readRoutedStream(spark, outPath),
      graft.operators.Router.readRouted(spark, batchOut))
    Seq(outPath, batchOut).foreach(p => graft.operators.Router.rmrf(java.nio.file.Paths.get(p)))
  }

  test("a first batch of only _stop rows cannot crash the resolve (empty-sink guard)") {
    val dir = "/root/testdata/sf0.001"
    val outPath = tmpDir("graft-routed-stoponly")
    val exploded = StreamingPipeline.streamRecordsAll(spark,
      graft.sources.TranscriptStore.table(spark, dir))
    // batch 0: stops only — _attacks has no data files yet; the old
    // full-rewrite resolve threw on schema inference here (ADVICE r4)
    StreamingPipeline.writeRoutedBatch(outPath)(
      exploded.filter(col("record_type") === "_stop"), 0L)
    // batch 1: the rest; stops from batch 0 must still close their attacks
    StreamingPipeline.writeRoutedBatch(outPath)(
      exploded.filter(col("record_type") =!= "_stop"), 1L)
    val out = StreamingPipeline.readRoutedStream(spark, outPath)
    assert(out.count() > 0)
    assert(out.filter(col("record_type") === "attacks" &&
      col("attack_ongoing") === 0).count() > 0,
      "stops routed before their attacks did not close them")
  }

  /** parquet file names per `<prefix>=` subdirectory of `root`. */
  private def filesByDir(root: java.nio.file.Path, prefix: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val ls = Files.list(root)
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).map { d =>
      val fs = Files.list(d)
      try d.getFileName.toString.stripPrefix(prefix) ->
        fs.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      finally fs.close()
    }.toMap
    finally ls.close()
  }

  test("split-and-replay property: any 2-4 batch split, one batch replayed, equals the batch route") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val dir = "/root/testdata/sf0.001"
    val exploded = StreamingPipeline.streamRecordsAll(spark,
      graft.sources.TranscriptStore.table(spark, dir)).persist()
    val batchOut = tmpDir("graft-split-batch")
    graft.operators.Router.route(spark, dir, batchOut)
    val expected = graft.operators.Router.readRouted(spark, batchOut)
    // a split is (batches, hash salt, the batch to replay)
    val split = for {
      n <- Gen.choose(2, 4)
      salt <- Gen.choose(0, Int.MaxValue)
      replay <- Gen.choose(0, n - 1)
    } yield (n, salt, replay)
    var stopsFirst = 0L
    (700L until 703L).foreach { seed =>
      val (n, salt, replay) = split.pureApply(Gen.Parameters.default, Seed(seed))
      val part = pmod(hash(col("conv_id"), col("turn_idx"), lit(salt)), lit(n))
      val outPath = tmpDir("graft-split-out")
      (0 until n).foreach(i =>
        StreamingPipeline.writeRoutedBatch(outPath)(exploded.filter(part === i), i.toLong))
      StreamingPipeline.writeRoutedBatch(outPath)(exploded.filter(part === replay), replay.toLong)
      // stops routed in an earlier batch than their (single) start
      val starts = exploded.filter(col("record_type") === "attacks" && col("attack_id") =!= 0L)
        .select(col("attack_id"), part.as("sb"))
      stopsFirst += exploded.filter(col("record_type") === "_stop" && col("attack_id") =!= 0L)
        .select(col("attack_id"), part.as("pb"))
        .join(starts, "attack_id").filter(col("pb") < col("sb")).count()
      assertSameRoutes(StreamingPipeline.readRoutedStream(spark, outPath), expected,
        s"seed $seed: $n batches, salt $salt, batch $replay replayed")
      graft.operators.Router.rmrf(java.nio.file.Paths.get(outPath))
    }
    assert(stopsFirst > 0, "no split routed a stop before its start")
    exploded.unpersist()
  }

  test("file-stream parse produces the same routed records as the batch path") {
    val dir = "/root/testdata/sf0.001"
    val src = graft.sources.TranscriptStore.table(spark, dir)
    val srcPath = tmpDir("graft-stream-src")
    src.write.mode("overwrite").parquet(srcPath)
    val outPath = tmpDir("graft-stream-out")
    val ckpt = tmpDir("graft-stream-ckpt")

    val q = StreamingPipeline.routeStream(spark, srcPath, outPath, ckpt)
    q.processAllAvailable()
    q.stop()

    val streamed = StreamingPipeline.readRoutedStream(spark, outPath)
    val batch = graft.operators.Pipeline.records(spark, dir)
    assert(streamed.count() == batch.count())
    val key = Seq("record_type", "conv_id", "turn_idx", "remote_log_payload")
    assert(streamed.select(key.head, key.tail: _*)
      .except(batch.select(key.head, key.tail: _*)).count() == 0)
  }

  test("file stream resumes from checkpoint across restarts without duplicates") {
    val dir = "/root/testdata/sf0.001"
    val all = graft.sources.TranscriptStore.table(spark, dir)
    val srcPath = tmpDir("graft-resume-src")
    val outPath = tmpDir("graft-resume-out")
    val ckpt = tmpDir("graft-resume-ckpt")

    // phase 1: first half of the data, then the query "dies"
    all.filter(col("turn_idx") % 2 === 0).write.mode("append").parquet(srcPath)
    val q1 = StreamingPipeline.routeStream(spark, srcPath, outPath, ckpt)
    q1.processAllAvailable(); q1.stop()
    val afterPhase1 = StreamingPipeline.readRoutedStream(spark, outPath).count()

    // phase 2: more files arrive; a NEW query resumes from the checkpoint
    all.filter(col("turn_idx") % 2 === 1).write.mode("append").parquet(srcPath)
    val q2 = StreamingPipeline.routeStream(spark, srcPath, outPath, ckpt)
    q2.processAllAvailable(); q2.stop()

    val streamed = StreamingPipeline.readRoutedStream(spark, outPath)
    val batch = graft.operators.Pipeline.records(spark, dir)
    assert(streamed.count() > afterPhase1) // phase 2 actually added rows
    assert(streamed.count() == batch.count()) // no loss, no duplicates
    // every (turn, record_type) emitted exactly once across both restarts
    assert(streamed.select("conv_id", "turn_idx", "record_type").distinct().count()
      == streamed.count())
  }

  test("a replayed micro-batch rewrites its own partition: zero duplicates") {
    val dir = "/root/testdata/sf0.001"
    val src = graft.sources.TranscriptStore.table(spark, dir)
    val srcPath = tmpDir("graft-replay-src")
    src.limit(500).write.mode("overwrite").parquet(srcPath)
    val outPath = tmpDir("graft-replay-out")
    val ckpt = tmpDir("graft-replay-ckpt")

    val q = StreamingPipeline.routeStream(spark, srcPath, outPath, ckpt)
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(outPath)
    val before = out.count()
    assert(before > 0)
    val batchIds = out.select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue()) // partition dirs infer as int

    // simulate a sink-side replay of the first batch: re-invoke the batch
    // writer with the SAME batchId and the same rows (as a crash between
    // the write and the checkpoint commit would)
    val bid = batchIds.min
    val replayRows = spark.read.parquet(s"$outPath/batch_id=$bid").cache()
    replayRows.count() // materialize before the overwrite clobbers the source
    StreamingPipeline.writeBatch(outPath)(replayRows, bid)
    replayRows.unpersist()

    val after = spark.read.parquet(outPath).count()
    assert(after == before, s"replay duplicated rows: $before -> $after")
    // and the per-turn uniqueness invariant still holds
    val dup = spark.read.parquet(outPath)
      .groupBy("conv_id", "turn_idx", "record_type").count()
      .filter(col("count") > 1).count()
    assert(dup == 0)
  }

  test("live socket source feeds the same exploded records as the batch path") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.sources.TranscriptStore.table(spark, dir)
      .orderBy("conv_id", "turn_idx").limit(300).collect()
    val sep = "\u0001"
    assert(rows.forall(r => !r.getString(3).contains(sep) && !r.getString(3).contains("\n")))

    // the store's ts is TIMESTAMP_NTZ -> collect yields LocalDateTime
    def tsMillis(r: org.apache.spark.sql.Row): Long = r.get(5) match {
      case t: java.sql.Timestamp => t.getTime
      case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

    // the live-ingress analog of the reference's UDP/TCP listeners
    // (bbn_f5networks.rb:142-202): one line per datagram/turn
    val server = new java.net.ServerSocket(0)
    val feeder = new Thread(() => {
      val sock = server.accept()
      val w = new java.io.PrintWriter(sock.getOutputStream, true)
      rows.foreach { r =>
        w.println(Seq(r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
          r.getString(4), tsMillis(r)).mkString(sep))
      }
      w.flush()
    })
    feeder.setDaemon(true)
    feeder.start()

    val raw = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort).load()
    val parsed = raw.select(split(col("value"), sep).as("f"))
      .select(col("f")(0).as("conv_id"), col("f")(1).cast("int").as("turn_idx"),
        col("f")(2).as("role"), col("f")(3).as("text"), col("f")(4).as("tool"),
        timestamp_millis(col("f")(5).cast("long")).as("ts"))
    val q = StreamingPipeline.streamRecords(spark, parsed)
      .writeStream.format("memory").queryName("sockrecs").outputMode("append").start()

    // batch truth over the SAME rows (ts normalized to TimestampType)
    val batchRows = rows.toSeq.map(r => org.apache.spark.sql.Row(
      r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4),
      new java.sql.Timestamp(tsMillis(r))))
    val batchIn = spark.createDataFrame(
      spark.sparkContext.parallelize(batchRows), StreamingPipeline.transcriptSchema)
    val expected = graft.operators.Pipeline
      .explodedAll(graft.operators.Pipeline.healthFilter(batchIn,
        graft.sources.Transcripts.healthStrings(spark)),
        graft.sources.Transcripts.utcOffsets(spark))
      .filter(col("record_type") =!= "_stop")
    val expectedCount = expected.count()

    // the socket source has no end-of-stream marker: poll until the routed
    // count settles at the batch truth (or time out)
    val deadline = System.currentTimeMillis() + 60000
    var got = -1L
    while (got != expectedCount && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      got = spark.table("sockrecs").count()
      if (got != expectedCount) Thread.sleep(200)
    }
    q.stop()
    server.close()
    assert(got == expectedCount, s"socket stream routed $got of $expectedCount records")
    val key = Seq("record_type", "conv_id", "turn_idx", "remote_log_payload")
    assert(spark.table("sockrecs").select(key.head, key.tail: _*)
      .except(expected.select(key.head, key.tail: _*)).count() == 0)
  }

  test("StreamMain drains a source directory to routed sinks + exact conv counts") {
    val dir = "/root/testdata/sf0.001"
    val turns = graft.sources.TranscriptStore.table(spark, dir)
    val srcPath = tmpDir("graft-main-src")
    val outPath = tmpDir("graft-main-out")
    // query-start events reach a listener synchronously, inside start()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // two drains on one outRoot, a second source file arriving in between
    def drain(): Unit = {
      spark.streams.addListener(listener)
      try graft.streaming.StreamMain.run(spark, srcPath, outPath, drain = true)
      finally spark.streams.removeListener(listener)
    }
    turns.filter(col("turn_idx") % 2 === 0).limit(2000).write.mode("append").parquet(srcPath)
    drain()
    assert(started.get == 1, s"StreamMain started ${started.get} queries")
    val firstDrain = StreamingPipeline.readRoutedStream(spark, outPath).count()
    assert(firstDrain > 0)
    turns.filter(col("turn_idx") % 2 === 1).limit(2000).write.mode("append").parquet(srcPath)
    drain()
    assert(started.get == 2, s"StreamMain started ${started.get} queries over two drains")
    assert(StreamingPipeline.readRoutedStream(spark, outPath).count() > firstDrain)
    // the drains compacted the pair state: one folded directory, not one per batch
    val pairDirs = filesByDir(java.nio.file.Paths.get(s"$outPath/_convpairs"), "batch_id=").keySet
    assert(pairDirs.size == 1 && pairDirs.head.startsWith("compact-"),
      s"expected one compacted pair-state dir, saw $pairDirs")
    val counts = StreamingPipeline.exactSinkCounts(spark, s"$outPath/_convpairs")
    assert(counts.count() > 0)
    // the two-query composition: a second query parsing both source files
    // into its own pair state gives the same exact counts
    val pairs2 = tmpDir("graft-main-pairs2")
    val ckpt2 = tmpDir("graft-main-ckpt2")
    val q2 = StreamingPipeline
      .streamRecords(spark, StreamingPipeline.streamTranscripts(spark, srcPath))
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch(StreamingPipeline.exactConvPairsBatch(pairs2) _)
      .start()
    q2.processAllAvailable(); q2.stop()
    val twoQuery = StreamingPipeline.exactSinkCounts(spark, pairs2)
    assert(counts.exceptAll(twoQuery).isEmpty && twoQuery.exceptAll(counts).isEmpty)
  }

  test("watermarked windowed sink counts run in append mode") {
    implicit val sql = spark.sqlContext
    // reuse the real parse over a memory stream of raw transcript rows
    val input = MemoryStream[(String, Int, String, String, String, java.sql.Timestamp)]
    val t = input.toDF().toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val counts = StreamingPipeline.sinkCounts(
      StreamingPipeline.streamRecords(spark, t), watermark = "0 seconds")
    val q = counts.writeStream.format("memory").queryName("sinkcounts")
      .outputMode("append").start()
    val syStart = "<134>x b info tmm1: [hostname=b.lab bigip_mgmt_ip=172.16.21.41 " +
      "date_time=2026-01-01 00:00:05 dos_attack_id=5 dos_attack_event=Attack Started " +
      "severity=2 errdefs_msg_name=Network DoS Event]"
    input.addData(("c1", 0, "user", syStart, "none",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:05")))
    q.processAllAvailable()
    // advance the watermark past the first window so it can emit
    input.addData(("c1", 1, "user", syStart.replace("00:00:05", "00:10:00"), "none",
      java.sql.Timestamp.valueOf("2026-01-01 00:10:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sinkcounts").collect()
    assert(rows.exists(r => r.getAs[String]("record_type") == "attacks" &&
      r.getAs[Long]("n_rows") == 1L))
  }

  test("exact streaming distinct-conv counts: batch parity and replay idempotence") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val stateDir = tmpDir("graft-exact-convs")
    val records = graft.operators.Pipeline.records(spark, dir)

    // two disjoint "micro-batches" by conv hash, fed through the foreachBatch fn
    val b0 = records.filter(abs(hash(col("conv_id"))) % 2 === 0)
    val b1 = records.filter(abs(hash(col("conv_id"))) % 2 === 1)
    StreamingPipeline.exactConvPairsBatch(stateDir)(b0, 0L)
    StreamingPipeline.exactConvPairsBatch(stateDir)(b1, 1L)
    // sink-side crash replay: batch 1 runs again against the same state dir
    StreamingPipeline.exactConvPairsBatch(stateDir)(b1, 1L)

    val exact = StreamingPipeline.exactSinkCounts(spark, stateDir)
    val truth = records
      .select(window(col("ts"), "1 minute").getField("start").as("window_start"),
        col("record_type"), col("facility"), col("severity"), col("conv_id"))
      .groupBy("window_start", "record_type", "facility", "severity")
      .agg(countDistinct(col("conv_id")).as("n_convs"))
    assert(exact.count() == truth.count())
    assert(exact.except(truth).count() == 0 && truth.except(exact).count() == 0)
  }

  test("pair-state compaction folds batch dirs to one and preserves exact counts") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val stateDir = tmpDir("graft-compact")
    def batchDirs() = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(stateDir))
      try {
        val it = ls.iterator()
        var v = Vector.empty[String]
        while (it.hasNext) { val p = it.next(); v :+= p.getFileName.toString }
        v.filter(_.startsWith("batch_id="))
      } finally ls.close()
    }
    val records = graft.operators.Pipeline.records(spark, dir)
    val b0 = records.filter(abs(hash(col("conv_id"))) % 2 === 0)
    val b1 = records.filter(abs(hash(col("conv_id"))) % 2 === 1)
    StreamingPipeline.exactConvPairsBatch(stateDir)(b0, 0L)
    StreamingPipeline.exactConvPairsBatch(stateDir)(b1, 1L)
    val before = StreamingPipeline.exactSinkCounts(spark, stateDir).collect()
      .map(r => (r.get(0), r.getString(1), r.get(2), r.get(3)) -> r.getLong(4)).toMap

    StreamingPipeline.compactConvPairs(spark, stateDir)
    assert(batchDirs().size == 1 && batchDirs().head.startsWith("batch_id=compact-"),
      s"expected one compact dir, saw ${batchDirs()}")
    val after = StreamingPipeline.exactSinkCounts(spark, stateDir).collect()
      .map(r => (r.get(0), r.getString(1), r.get(2), r.get(3)) -> r.getLong(4)).toMap
    assert(after == before, "compaction changed the exact counts")

    // a batch REPLAYED after its dirs were folded (older id than the compact
    // epoch) must still compact cleanly — the generation suffix keeps the
    // fold's output path distinct from its inputs
    StreamingPipeline.exactConvPairsBatch(stateDir)(b0, 0L)
    StreamingPipeline.compactConvPairs(spark, stateDir)
    assert(batchDirs().size == 1)
    val after2 = StreamingPipeline.exactSinkCounts(spark, stateDir).collect()
      .map(r => (r.get(0), r.getString(1), r.get(2), r.get(3)) -> r.getLong(4)).toMap
    assert(after2 == before, "post-replay compaction changed the exact counts")
  }
}
