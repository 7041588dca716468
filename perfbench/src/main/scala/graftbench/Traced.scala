package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Incremental, Pipeline, SparkEntry}
import graft.fixtures.Gen
import graft.model.PipelineConf
import graft.operators._
import graft.sources.Source
import graft.streaming.StreamPipeline

/** The traced run: every layer timed from outside, around the calls into
  * its public functions. Metrics of a span come from the listener probes,
  * attributed by the span's time window. */
final class Traced(spark: SparkSession, work: String, seed: Long,
    probes: Probes, tr: Tracer, gate: Gate) {
  import Traced._

  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val oracle = scala.collection.mutable.ArrayBuffer.empty[String]

  def result: Map[String, Double] = metrics.toMap
  /** Sink directories whose outputs the DuckDB oracle still has to check. */
  def oracleDirs: Seq[String] = oracle.toSeq

  private def put(k: String, v: Double): Unit = metrics(k) = v
  private def win(s: Tracer.Span): Window = probes.window(s.startMs, s.endMs)
  private def idle(s: Tracer.Span, w: Window): Double = s.durS * Session.Cores - w.taskS

  /** batch_detect traced: sources, the fused enrich, each stage in
    * isolation over a cached copy of its input, and route. */
  def batch(wl: BatchDetect): Unit = {
    val conf = wl.conf
    val (turnsDf, rules) = tr.span("sources") {
      val scan = tr.span("sources.scan") {
        val df = Source.readTable(spark, conf, wl.inputPath)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val t = tr.span("sources.rules")(Source.readRuleTables(spark, conf, wl.rulesDir))
      (scan, t)
    }
    val scan = tr.get("sources.scan")
    put("sources.scan_s", scan.durS)
    put("sources.scan_mb", Inputs.bytes(wl.inputPath) / 1e6)
    put("sources.rules_s", tr.get("sources.rules").durS)

    tr.span("Pipeline.enrich") {
      val (enriched, cleanup) = Pipeline.enrichPlanned(turnsDf, rules, conf)
      try enriched.write.format("noop").mode("overwrite").save() finally cleanup()
    }
    val en = tr.get("Pipeline.enrich")
    val enW = win(en)
    put("Pipeline.enrich.s", en.durS)
    put("Pipeline.enrich.task_s", enW.taskS)
    put("Pipeline.enrich.idle_core_s", idle(en, enW))
    put("Pipeline.enrich.cache_mb", enW.cachePeakMb)
    put("Pipeline.enrich.jobs", enW.jobs)

    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      caches += c
      c
    }
    // a lazy stage: the call plus a noop write of its output, over a cached
    // input; the output is cached afterwards, outside the span, for the next
    val stageNames = scala.collection.mutable.ArrayBuffer.empty[String]
    def stage(layer: String)(call: => DataFrame): DataFrame = {
      stageNames += layer
      val out = tr.span(layer) {
        val df = call
        df.write.format("noop").mode("overwrite").save()
        df
      }
      cache(out)
    }
    val routedOut = s"$work/trace/route"
    val scored = tr.span("operators") {
      val in = cache(turnsDf)
      val parsed = stage("operators.parse")(Parse(in, conf))
      val deduped = stage("operators.dedup")(Dedup(parsed, conf))
      val survivors = stage("operators.whitelist")(Whitelist(deduped, rules.whitelist))
      val ioc = stage("operators.ioc")(IocEnrich(survivors, rules.ioc, conf))
      val sig = stage("operators.sig")(SigRules(ioc, rules.sigRules))
      val ref = stage("operators.ref")(RefCheck(sig, rules.ref, conf))
      val first = stage("operators.first_seen")(
        FirstSeen(ref, conf, aux = Some(survivors)))
      val freq = stage("operators.frequency")(
        Frequency(first, conf, aux = Some(survivors)))
      val scored = stage("operators.scoring")(Scoring(freq, conf))

      val nIn = in.count().toDouble
      def n(df: DataFrame, c: org.apache.spark.sql.Column): Double = df.filter(c).count().toDouble
      put("operators.parse.rows_out", parsed.count().toDouble)
      put("operators.parse.ok_ratio", n(parsed, col("parse_ok")) / nIn)
      put("operators.dedup.rows_out", deduped.count().toDouble)
      put("operators.whitelist.rows_out", survivors.count().toDouble)
      put("operators.ioc.hits", n(ioc, size(col("hits_ioc")) > 0))
      put("operators.sig.hits", n(sig, size(col("hits_sig")) > 0))
      put("operators.ref.hits", n(ref, size(col("hits_ref")) > 0))
      put("operators.first_seen.hits", n(first, col("first_seen")))
      put("operators.frequency.hits", n(freq, col("freq_hit")))
      put("operators.scoring.routed", n(scored, col("routed")))
      scored
    }
    // route on the materialized enriched rows, with their lineage cut so
    // that planning route's jobs does not walk the chain of stage caches
    val enriched = scored.localCheckpoint()
    caches.foreach(_.unpersist())
    tr.span("Pipeline.route")(BatchDetect.route(spark, conf, enriched, routedOut))

    stageNames.foreach { layer =>
      val s = tr.get(layer)
      val w = win(s)
      put(s"$layer.s", s.durS)
      if (TaskTimed(layer)) put(s"$layer.task_s", w.taskS)
      if (ShuffleCounted(layer)) put(s"$layer.shuffle_mb", w.shuffleMb)
      if (layer == "operators.dedup") put(s"$layer.spill_mb", w.spillMb)
    }
    put("operators.isolated_sum_s", stageNames.map(tr.get(_).durS).sum)
    val ro = tr.get("Pipeline.route")
    val roW = win(ro)
    put("Pipeline.route.s", ro.durS)
    put("Pipeline.route.task_s", roW.taskS)
    put("Pipeline.route.idle_core_s", idle(ro, roW))
    put("Pipeline.route.written_mb", roW.writtenMb)
    put("Pipeline.route.jobs", roW.jobs)
    gate.checkAlone(routedOut)(wl.check(routedOut))
  }

  /** stream_resume traced: ts-range files through `StreamPipeline.runFull`
    * (one file per micro-batch), then one more file through the
    * `Incremental` calls directly, resuming from the stream's state. The
    * alerts of all runs must equal the routed rows of one batch pass over
    * all files: run(A ∪ B ∪ C) == run(C | state(A, B)). */
  def stream(tables: graft.RuleTables): Unit = {
    val conf = PipelineConf()
    val turns = Gen.transcripts(Inputs.StreamConvs, seed + 1L)
    val ranges = Inputs.tsRanges(turns, Inputs.StreamFiles)
    val base = 1700000000000L
    ranges.zipWithIndex.foreach { case (r, i) =>
      val dir = if (i < Inputs.StreamFiles - 1) "stream" else "stream_last"
      Inputs.writeTurnFile(spark, r, s"$work/trace/tmp-$i",
        f"$work/trace/$dir/part-$i%05d.parquet", base + i * 60000L)
    }
    val stateDir = s"$work/trace/state"
    val outDir = s"$work/trace/alerts"
    val schema = spark.read.parquet(s"$work/trace/stream").schema
    val nBefore = probes.progressEvents.size
    tr.span("stream_resume") {
      tr.span("StreamPipeline.runFull") {
        val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$work/trace/stream")
        val ran = StreamPipeline.runFull(spark, src, tables, conf, stateDir, outDir,
          s"$work/trace/checkpoint")
        require(ran.size == Inputs.StreamFiles - 1, s"expected one run per file, got $ran")
      }
      tr.span("Incremental.loadFullState") {
        val st = Incremental.loadFullState(spark, stateDir)
        Seq(st.seenValues, st.fpSeen, st.freqCounts, st.firedBuckets).flatten.foreach(_.count())
      }
      tr.span("Incremental.run") {
        Incremental.run(spark, Source.readTable(spark, conf, s"$work/trace/stream_last"),
          tables, conf, stateDir, outDir, f"${Inputs.StreamFiles - 1}%06d")
      }
      val report = tr.span("Incremental.stateReport") {
        Incremental.stateReport(spark, stateDir).collect()
      }
      put("Incremental.state_rows", report.map(_.getAs[Long]("n_rows")).sum.toDouble)
    }
    val run = tr.get("Incremental.run")
    val runW = win(run)
    put("Incremental.load_state_s", tr.get("Incremental.loadFullState").durS)
    put("Incremental.run_s", run.durS)
    put("Incremental.idle_core_s", idle(run, runW))
    put("Incremental.jobs_per_run", runW.jobs)
    val last = Incremental.completedRuns(stateDir).last
    put("Incremental.state_mb", Seq("seen_values", "fp_seen", "freq_counts", "fired")
      .map(t => Inputs.bytes(s"$stateDir/run-$last/$t")).sum / 1e6)

    val ps = probes.progressEvents.drop(nBefore).filter(_.contains("addBatch"))
    require(ps.nonEmpty, "no streaming progress was reported")
    def med(f: Map[String, Long] => Double): Double = median(ps.map(f))
    put("streaming.add_batch_ms", med(_("addBatch").toDouble))
    put("streaming.wal_commit_ms", med(_.getOrElse("walCommit", 0L).toDouble))
    put("streaming.query_planning_ms", med(_.getOrElse("queryPlanning", 0L).toDouble))
    put("streaming.latest_offset_ms", med(_.getOrElse("latestOffset", 0L).toDouble))
    put("streaming.trigger_overhead_ms",
      med(p => (p("triggerExecution") - p("addBatch")).toDouble))
    put("streaming.microbatch_p50_s", med(_("triggerExecution") / 1e3))

    gate.checkAlone(outDir) {
      val (expected, _) = BatchDetect.reference(ranges.flatten, conf)
      BatchDetect.compare(Map.empty, expected, Map.empty,
        BatchDetect.routedRows(Incremental.readAlerts(spark, stateDir, outDir)))
    }
  }

  /** curation_neardup traced: each harness query written to its sink. */
  def nearDup(wl: CurationNearDup): Unit = {
    val out = s"$work/trace/neardup"
    def cachedAfterGc(): Double = { System.gc(); Thread.sleep(300); probes.cachedMb }
    val cached0 = cachedAfterGc()
    tr.span("curation_neardup") {
      NearDupSpans.foreach { case (q, span) =>
        tr.span(span) {
          SparkEntry.queries(q)(spark, wl.docsDir).write.mode("overwrite").parquet(s"$out/$q")
        }
      }
    }
    val ws = NearDupSpans.map { case (_, s) => win(tr.get(s)) }
    NearDupSpans.foreach { case (_, s) => put(s"${s}_s", tr.get(s).durS) }
    put("neardup.pairs", spark.read.parquet(s"$out/dd_ngram_jaccard").count().toDouble)
    put("neardup.components",
      spark.read.parquet(s"$out/dd_cluster_cc").select("comp").distinct().count().toDouble)
    put("neardup.shuffle_mb", ws.map(_.shuffleMb).sum)
    put("neardup.jobs", ws.map(_.jobs).sum.toDouble)
    // cached blocks the three queries leave behind, still held after a GC
    put("neardup.retained_mb", cachedAfterGc() - cached0)
    gate.checkAlone(out)(Nil)
    oracle += out
  }
}

object Traced {
  val TaskTimed = Set("operators.parse", "operators.dedup", "operators.ioc",
    "operators.first_seen", "operators.frequency")
  val ShuffleCounted = Set("operators.dedup", "operators.first_seen",
    "operators.frequency")
  val NearDupSpans = Seq("dd_ngram_jaccard" -> "neardup.jaccard",
    "dd_cluster_cc" -> "neardup.cc", "ta_curation" -> "neardup.curation")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) throw new IllegalArgumentException("median of nothing")
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
