package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.F5Parse
import graft.operators.Pipeline
import graft.sources.{TranscriptTable, Transcripts}

/** Traced-run probes: each layer's public functions called alone on the
  * run's input, through the noop sink, so its cost can be read apart from
  * the end-to-end operation. Each probe is a span named after its layer,
  * with its SQL executions as children. Inputs a probe should not
  * re-compute (the lifecycle facts, aggregate and attacks rows) are cached
  * first.
  */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def parseLayers(spark: SparkSession, tracer: Tracer, store: TranscriptTable, dir: String,
                  turns: Int, storeBytes: Double, put: (String, Double, String) => Unit): Unit = {
    tracer.register(spark)
    try probes(spark, tracer, store, dir, turns, storeBytes, put)
    finally { tracer.unregister(spark); tracer.resolve() }
    // executor CPU of the probes that report it, from their executions
    Seq("functions.kv_scan" -> "functions.kv_scan_cpu_s",
        "pipeline.parse_explode" -> "pipeline.parse_explode_cpu_s").foreach { case (span, metric) =>
      tracer.all.reverseIterator.find(s => s.kind == "probe" && s.name == span).foreach { sp =>
        put(metric, tracer.descendants(sp).map(_.attrs.getOrElse("task_cpu_s", 0.0)).sum, "s")
      }
    }
  }

  private def probes(spark: SparkSession, tracer: Tracer, store: TranscriptTable, dir: String,
                     turns: Int, storeBytes: Double, put: (String, Double, String) => Unit): Unit = {
    def timeS(name: String)(body: => Unit): Double = tracer.span(name, "probe") {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val t = store.table(spark, dir)
    val offsets = Transcripts.utcOffsets(spark)
    val clean = Pipeline.healthFilter(t, Transcripts.healthStrings(spark))

    put("sources.scan_s", timeS("sources.scan")(noop(t)), "s")
    put("sources.scan_bytes", storeBytes, "bytes")
    put("pipeline.health_filter_s", timeS("pipeline.health_filter")(noop(clean)), "s")
    put("pipeline.health_dropped_rows", (t.count() - clean.count()).toDouble, "count")

    put("functions.kv_scan_s", timeS("functions.kv_scan")(
      noop(t.select(F5Parse.kvSyslog(col("text")).as("kv")))), "s")
    put("functions.pri_s", timeS("functions.pri")(noop(t.select(F5Parse.pri(col("text")).as("pri")))), "s")

    put("pipeline.parse_explode_s", timeS("pipeline.parse_explode")(
      noop(Pipeline.explodedAll(clean, offsets))), "s")
    Seq(Pipeline.Attacks, Pipeline.Stats, Pipeline.Traffic).foreach { f =>
      put(s"pipeline.parse_explode_s.$f", timeS(s"pipeline.parse_explode.$f")(
        noop(Pipeline.explodedAll(clean, offsets, Set(f)))), "s")
    }
    val rows = Pipeline.explodedAll(clean, offsets).groupBy("record_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    Seq(Pipeline.Attacks, Pipeline.Stats, Pipeline.Traffic, Pipeline.Stop).foreach { f =>
      put(s"pipeline.rows_out.${f.stripPrefix("_")}", rows.getOrElse(f, 0.0), "count")
    }
    put("pipeline.rows_per_turn", rows.values.sum / turns, "ratio")

    // lifecycle, one step at a time over cached inputs
    put("pipeline.lifecycle_facts_s", timeS("pipeline.lifecycle_facts")(
      noop(Pipeline.lifeFacts(clean, offsets))), "s")
    val facts = Pipeline.lifeFacts(clean, offsets).cache()
    facts.count()
    put("pipeline.lifecycle_agg_s", timeS("pipeline.lifecycle_agg")(noop(Pipeline.lifeAggOf(facts))), "s")
    val agg = Pipeline.lifeAggOf(facts).cache()
    val atk = Pipeline.explodedAll(clean, offsets, Set(Pipeline.Attacks)).cache()
    agg.count(); atk.count()
    put("pipeline.lifecycle_join_s", timeS("pipeline.lifecycle_join")(
      noop(Pipeline.applyLifecycle(atk, agg))), "s")
    val hasStop = col("_stop_utc").isNotNull
    val closed = agg.filter(col("_n_starts") === 1 && hasStop).count().toDouble
    val stops = facts.filter(!col("is_atk")).count().toDouble
    put("pipeline.episodes", agg.count().toDouble, "count")
    put("pipeline.closed", closed, "count")
    put("pipeline.orphan_stops", agg.filter(col("_n_starts") === 0 && hasStop).count().toDouble, "count")
    put("pipeline.duplicate_starts", agg.filter(col("_n_starts") > 1).count().toDouble, "count")
    put("pipeline.closed_per_stop", if (stops > 0) closed / stops else 0.0, "ratio")
    Seq(facts, agg, atk).foreach(_.unpersist(blocking = true))
  }
}
