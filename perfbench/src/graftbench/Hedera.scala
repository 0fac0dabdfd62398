package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.hedera._
import graft.metrics.{Metrics, MetricsRegistry}

/** The warehouse `EtlApp.wire` builds: one TransactionsTable shared by the
  * ingest pipeline and the dedupe job, swaps recovered before any append,
  * `preDedupe = false`. Each gets its own metrics registry so the job's
  * `dedupe.job.runtime.*` counters can be read after every call. */
final class Warehouse(spark: SparkSession, val dir: String, cfg: Deduplication.Config) {
  val reg = new MetricsRegistry
  val table = new TransactionsTable(spark, s"$dir/transactions")
  table.recoverSwaps()
  val errors = new ErrorsTable(spark, s"$dir/errors")
  val state = new StateStore(spark, s"$dir/state")
  val pipe = new IngestPipeline(spark, table, errors, preDedupe = false, reg = reg)
  val job = new Deduplication.Job(spark, table, state, cfg, reg)
  val input = s"$dir/input"
  val checkpoint = s"$dir/checkpoint"
  Files.createDirectories(Paths.get(input))
}

/** One micro-batch as its progress event reported it. */
final case class Batch(logOffset: Long, startMs: Long, endMs: Long, durations: Map[String, Long])

/** Collects the progress of one streaming query. */
final class BatchLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  private val offset = "\"logOffset\"\\s*:\\s*(\\d+)".r.unanchored
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    val log = src.map(_.endOffset).collect { case offset(n) => n.toLong }.getOrElse(-1L)
    val changed = src.exists(s => s.startOffset != s.endOffset)
    if (p.numInputRows > 0 || changed) {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(Batch(log, start, start + d.getOrElse("triggerExecution", 0L), d))
    }
  }
}

/** A dedupe run as the benchmark saw it: wall interval, window end, and the
  * job's per-phase runtimes (-1 where the phase did not run). */
final case class DedupeRun(kind: String, startMs: Long, endMs: Long, windowEndUs: Long,
    removed: Long, phases: Map[String, Long], ok: Boolean) {
  def seconds: Double = (endMs - startMs) / 1e3
}

object Hedera {
  val Phases = Seq("probe", "detect", "repair", "setState")
  private val DayNs = 86400L * 1000000000L

  // hedera_stream: files land at StreamFilesPerSec, each with
  // StreamRowsPerFile rows — about half the rate at which this ingest path
  // keeps up on a 4-core host with dedupe running beside it. Keys start six
  // seconds before midnight, so every run crosses the same day boundary and
  // the repair rewrites whole days on both sides of it.
  val StreamFilesPerSec = 20
  val StreamRowsPerFile = 100
  val StreamBase: Long = java.time.Instant.parse("2024-03-01T23:59:54Z").toEpochMilli * 1000000L

  // hedera_backfill: a many-day corpus, time-ordered across its files.
  val BackfillDays = 12
  val BackfillFiles = 120
  val BackfillRowsPerFile = 250
  val BackfillBase: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000000L

  /** Timed read passes after a backfill, at least (the window usually
    * closes during the backfill itself). */
  val ReadPasses = 6

  /** Catch-up cap lifted, as `EtlApp --once` does. */
  val BackfillCfg = Deduplication.Config(catchupIntervalUs = Long.MaxValue / 4)

  def streamCorpus(seed: Long, seconds: Int): HederaCorpus = {
    val n = seconds * StreamFilesPerSec
    val stepNs = 1000000000L / StreamFilesPerSec / StreamRowsPerFile
    HederaGen.build(seed, n, StreamRowsPerFile, i => i * 1000L / StreamFilesPerSec,
      (i, j) => StreamBase + (i.toLong * StreamRowsPerFile + j) * stepNs + (j % 7))
  }

  def backfillCorpus(seed: Long, files: Int = BackfillFiles, base: Long = BackfillBase): HederaCorpus = {
    val total = files.toLong * BackfillRowsPerFile
    val stepNs = BackfillDays * DayNs / total
    HederaGen.build(seed, files, BackfillRowsPerFile, _ => 0L,
      (i, j) => base + (i.toLong * BackfillRowsPerFile + j) * stepNs + (j % 7))
  }

  def writeFile(dir: String, f: InputFile): Unit = {
    val tmp = Paths.get(dir, "." + f.name + ".tmp")
    Files.write(tmp, f.lines.asJava)
    Files.move(tmp, Paths.get(dir, f.name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** File name → micro-batch log offset, from the file source's own log in
    * the checkpoint (each entry names the batch that took the file). */
  def fileBatches(checkpoint: String): Map[String, Long] = {
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.startsWith("{"))
      .map { l =>
        val m = Json.read(l)
        m("path").toString.split('/').last -> m("batchId").toString.toLong
      }.toMap
  }

  /** Start the deployed stream under a span, so every micro-batch job is
    * attributed to the ingest layer. */
  def startStream(ctx: Ctx, wh: Warehouse, trigger: Trigger): StreamingQuery =
    ctx.tracer.span("streaming", "startStream") {
      wh.pipe.startStream(wh.input, wh.checkpoint, trigger,
        Some(EtlApp.Args().maxFilesPerTrigger))
    }

  def dedupe(ctx: Ctx, wh: Warehouse, kind: String): DedupeRun = {
    Phases.foreach(p => wh.reg.set(s"dedupe.job.runtime.$p", -1L))
    val t0 = System.currentTimeMillis()
    val r = scala.util.Try(ctx.tracer.span("hedera.dedupe", kind) {
      if (kind == "runFull") wh.job.runFull() else wh.job.runIncremental()
    })
    val phases = Phases.map(p => p -> wh.reg.get(s"dedupe.job.runtime.$p")).toMap
    r.failed.foreach(e => ctx.note(s"$kind failed: $e"))
    DedupeRun(kind, t0, System.currentTimeMillis(), r.map(_.windowEndUs).getOrElse(-1L),
      r.map(_.duplicatesRemoved).getOrElse(0L), phases, r.isSuccess)
  }

  /** The five reads the backfill's closed loop makes over the deduped table. */
  def reads(spark: SparkSession, wh: Warehouse, day: java.time.LocalDate): Seq[(String, () => DataFrame)] = {
    val startUs = day.toEpochDay * 86400000000L
    Seq(
      "daily_type_rollup" -> (() => HederaAnalytics.dailyTypeRollup(spark, wh.table.read())),
      "account_net_flow" -> (() => HederaAnalytics.accountNetFlow(wh.table.read())),
      "entity_activity" -> (() => HederaAnalytics.entityActivity(wh.table.read())),
      "window_scan" -> (() => wh.job.windowScan(startUs, startUs + 86400000000L - 1)),
      "type_day_scan" -> (() => wh.table.read()
        .filter(col("day") === lit(java.sql.Date.valueOf(day)) && col("transactionType") === 14)))
  }

  def readPass(ctx: Ctx, wh: Warehouse, day: java.time.LocalDate): Seq[(String, Double)] =
    reads(ctx.spark, wh, day).map { case (name, df) =>
      name -> Clock.timed(ctx.attempt(name)(ctx.tracer.span("hedera.analytics", name) {
        Analytics.noop(df())
      }))._2
    }

  /** The correctness gate: after the final runFull the fact table's keys
    * are exactly the distinct valid keys generated, each once, and the
    * errors table holds exactly the malformed lines. A planted wrong answer
    * re-appends one row after dedupe, as a lost dedupe would leave it. */
  def check(ctx: Ctx, wh: Warehouse, c: HederaCorpus): Boolean = {
    if (ctx.plantWrong) wh.table.append(wh.table.read().limit(1))
    val keys = wh.table.read().select("consensusTimestamp").collect().map(_.getLong(0)).sorted
    val errs = wh.errors.read().count()
    val dupKeys = keys.length - keys.distinct.length
    val ok = java.util.Arrays.equals(keys, c.uniqueKeys) && errs == c.malformed
    if (!ok) ctx.note(s"check failed: table keys ${keys.length} (${dupKeys} repeated), " +
      s"expected ${c.uniqueKeys.length}; errors $errs, expected ${c.malformed}")
    ok
  }

  /** Warm the ingest and dedupe paths on a small corpus of their own. */
  def warmUp(ctx: Ctx): Unit = {
    val wh = new Warehouse(ctx.spark, s"${ctx.dir}/warm", BackfillCfg)
    backfillCorpus(ctx.seed + 7919, files = 3, base = BackfillBase - 40 * DayNs)
      .files.foreach(writeFile(wh.input, _))
    startStream(ctx, wh, Trigger.AvailableNow()).awaitTermination()
    dedupe(ctx, wh, "runIncremental"); dedupe(ctx, wh, "runFull")
  }

  /** Wiring as set-up: built three times in fresh directories, the last one
    * kept; set-up counts the median. */
  def wire(ctx: Ctx, cfg: Deduplication.Config): Warehouse = {
    val built = (1 to 3).map(i => Clock.timed(new Warehouse(ctx.spark, s"${ctx.dir}/wh$i", cfg)))
    ctx.wiringExcess(built.map(_._2))
    built.last._1
  }

  private def storeMetrics(ctx: Ctx, wh: Warehouse, runs: Seq[DedupeRun], fromMs: Long): Map[String, Double] = {
    val q = ctx.tracer.queries.asScala.toSeq.filter(_.startMs >= fromMs)
    val root = Paths.get(wh.dir).toAbsolutePath.normalize.toString
    def writesTo(suffix: String) = q.filter(_.writes.contains(s"$root/$suffix"))
    val appends = writesTo("transactions").map(_.execNs / 1e9)
    val stages = writesTo("transactions/.graft-stage")
    val repairs = runs.map(_.phases("repair")).filter(_ >= 0).map(_ / 1e3)
    val stageS = stages.map(_.execNs / 1e9)
    // Rows the dedupe runs wrote: the staged day rewrites (plus one state
    // row per run), as the tasks' output metrics count them.
    val rewritten = ctx.tracer.recordsWrittenOf(ctx.tracer.of("hedera.dedupe")).toDouble
    val removed = runs.map(_.removed).sum.toDouble
    val tableDir = Paths.get(wh.dir, "transactions")
    val files = Files.walk(tableDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")
        && !tableDir.relativize(p).iterator().asScala.exists(_.toString.startsWith("."))).toSeq
    val days = files.map(_.getParent).distinct.size
    val rows = wh.table.read().count().toDouble
    Map(
      "store.append_s" -> Stats.median(appends),
      "store.stage_write_s" -> Stats.median(stageS),
      "store.swap_s" -> Stats.median(repairs.zip(stageS).map { case (r, s) => math.max(0.0, r - s) }),
      "store.state_set_s" -> Stats.median(runs.map(_.phases("setState")).filter(_ >= 0).map(_ / 1e3)),
      "store.bytes_per_row" -> Stats.ratio(files.map(Files.size).sum.toDouble, rows),
      "store.files_per_day" -> Stats.ratio(files.size.toDouble, days.toDouble),
      "dedupe.rewrite_per_removed" -> Stats.ratio(rewritten, removed))
  }

  private def dedupeMetrics(ctx: Ctx, runs: Seq[DedupeRun]): Map[String, Double] = {
    val inc = runs.filter(_.kind == "runIncremental")
    def phase(p: String) = Stats.median(inc.map(_.phases(p)).filter(_ >= 0).map(_ / 1e3))
    val spans = ctx.tracer.of("hedera.dedupe")
    Map(
      "dedupe.runs" -> inc.size.toDouble,
      "dedupe.run_p50_s" -> Stats.median(inc.map(_.seconds)),
      "dedupe.run_p95_s" -> Stats.p95(inc.map(_.seconds)),
      "dedupe.probe_s" -> phase("probe"), "dedupe.detect_s" -> phase("detect"),
      "dedupe.repair_s" -> phase("repair"),
      "dedupe.jobs_per_run" -> Stats.ratio(ctx.tracer.jobsOf(spans).toDouble, spans.size.toDouble),
      "dedupe.dirty_share" -> Stats.ratio(inc.count(_.phases("repair") >= 0).toDouble, inc.size.toDouble),
      "dedupe.full_s" -> Stats.median(runs.filter(_.kind == "runFull").map(_.seconds)))
  }

  /** Streaming and ingest metrics from the micro-batches of one stream. */
  private def ingestMetrics(ctx: Ctx, wh: Warehouse, log: BatchLog, c: HederaCorpus,
      byFile: Map[String, Long]): Map[String, Double] = {
    val bs = log.batches.asScala.toSeq
    val ingestSpans = ctx.tracer.of("streaming", "startStream")
    // Lines per batch from the files each batch took (a progress event's
    // numInputRows counts every re-scan of the batch inside foreachBatch).
    val linesOf = c.files.map(f => f.name -> f.lines.size.toLong).toMap
    val perBatch = byFile.toSeq.groupBy(_._2).map { case (_, fs) => fs.map(f => linesOf.getOrElse(f._1, 0L)).sum }
    val rows = perBatch.sum.toDouble
    val badBatches = c.files.filter(_.malformed > 0).flatMap(f => byFile.get(f.name)).distinct.size
    def d(k: String) = bs.map(_.durations.getOrElse(k, 0L) / 1e3)
    // Each micro-batch as a span, and its foreachBatch body (addBatch, which
    // runs after the offsets are planned and logged) as a child span.
    if (ctx.traced) bs.foreach { b =>
      def ms(k: String) = b.durations.getOrElse(k, 0L)
      val id = ctx.tracer.addSpan("streaming", "microBatch", 0L, Clock.nanoOf(b.startMs),
        Clock.nanoOf(b.endMs))
      val bodyStart = b.startMs + ms("latestOffset") + ms("walCommit") + ms("getBatch") +
        ms("queryPlanning")
      ctx.tracer.addSpan("hedera.ingest", "addBatch", id, Clock.nanoOf(bodyStart),
        Clock.nanoOf(bodyStart + ms("addBatch")))
    }
    Map(
      "streaming.batches" -> bs.size.toDouble,
      "streaming.trigger_p50_s" -> Stats.median(d("triggerExecution")),
      "streaming.trigger_p95_s" -> Stats.p95(d("triggerExecution")),
      "streaming.offset_s" -> Stats.median(bs.map(b =>
        (b.durations.getOrElse("latestOffset", 0L) + b.durations.getOrElse("getBatch", 0L)) / 1e3)),
      "streaming.commit_s" -> Stats.median(bs.map(b =>
        (b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)) / 1e3)),
      "streaming.rows_per_batch" -> Stats.median(perBatch.map(_.toDouble).toSeq),
      "ingest.batch_p50_s" -> Stats.median(d("addBatch")),
      "ingest.batch_p95_s" -> Stats.p95(d("addBatch")),
      "ingest.jobs_per_batch" -> Stats.ratio(ctx.tracer.jobsOf(ingestSpans).toDouble, bs.size.toDouble),
      "ingest.cpu_ms_per_krow" -> Stats.ratio(ctx.tracer.cpuNsOf(ingestSpans) / 1e6, rows / 1e3),
      "ingest.reparse_share" -> Stats.ratio(badBatches.toDouble, bs.size.toDouble),
      "ingest.rows" -> rows,
      "ingest.dead_letters" -> wh.reg.get(Metrics.JsonToTableRowErrors).toDouble)
  }

  /** hedera_stream: the deployed continuous shape under an open loop. */
  def stream(ctx: Ctx, corpus: HederaCorpus): Outcome = {
    val spark = ctx.spark
    warmUp(ctx); ctx.mark("warmup")
    val wh = wire(ctx, Deduplication.Config())
    val log = new BatchLog
    spark.streams.addListener(log)
    val t0Ms = ctx.startWindow()
    val query = startStream(ctx, wh, Trigger.ProcessingTime(EtlApp.Args().triggerMs))
    val stop = new AtomicBoolean(false)
    val runs = new ConcurrentLinkedQueue[DedupeRun]()
    // The loop starts once the first micro-batch has created the table, as
    // the deployed scheduler's first tick comes an interval after start-up
    // (an incremental run over a table that does not exist yet fails).
    val dedupeThread = new Thread(() => {
      while (!stop.get && !wh.table.exists()) Thread.sleep(20)
      while (!stop.get) { runs.add(dedupe(ctx, wh, "runIncremental")); () }
    }, "bench-dedupe")
    val lateMs = new Array[Double](corpus.files.size)
    val t0Ns = System.nanoTime()
    val feedMs = Clock.wallMs(t0Ns)
    val feeder = new Thread(() => corpus.files.foreach { f =>
      val wait = t0Ns + f.dueMs * 1000000L - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      writeFile(wh.input, f)
      lateMs(f.seq) = (System.nanoTime() - t0Ns) / 1e6 - f.dueMs
    }, "bench-feeder")
    dedupeThread.start(); feeder.start()
    feeder.join()
    // Drain: every file committed, and a dedupe run that started after the
    // last commit has finished, or the deadline passes.
    val lastKeyUs = corpus.files.last.maxKey / 1000
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < deadline &&
        !runs.asScala.exists(r => r.ok && r.windowEndUs >= lastKeyUs)) Thread.sleep(50)
    stop.set(true); dedupeThread.join()
    val t1Ms = ctx.endWindow()
    query.stop()
    spark.streams.removeListener(log)
    val finalRuns = Seq(dedupe(ctx, wh, "runIncremental"), dedupe(ctx, wh, "runFull"))
    ctx.mark("final_dedupe")
    val correct = check(ctx, wh, corpus)
    ctx.mark("check")

    val byFile = fileBatches(wh.checkpoint)
    val batchEnd = log.batches.asScala.map(b => b.logOffset -> b.endMs).toMap
    val okRuns = runs.asScala.toSeq.filter(_.ok).sortBy(_.endMs)
    val visible = corpus.files.map(f => byFile.get(f.name).flatMap(batchEnd.get)
      .map(end => (end - feedMs - f.dueMs) / 1e3))
    val fresh = corpus.files.map(f => okRuns.find(_.windowEndUs >= f.maxKey / 1000)
      .map(r => (r.endMs - feedMs - f.dueMs) / 1e3))
    val missing = visible.count(_.isEmpty) + fresh.count(_.isEmpty)
    if (missing > 0) ctx.note(s"$missing file readings missing after the drain deadline")
    val vis = visible.flatten
    val fr = fresh.flatten
    val doneMs = okRuns.find(_.windowEndUs >= lastKeyUs).map(_.endMs).getOrElse(t1Ms)
    val allRuns = runs.asScala.toSeq ++ finalRuns
    val attempted = log.batches.size + allRuns.size
    val failed = allRuns.count(!_.ok) + missing
    // Backlog: rows due but not yet committed, sampled at each due time.
    val rowsOf = corpus.files.map(_.lines.size.toLong)
    val visAt = visible.map(_.map(_ * 1e3))
    val backlog = corpus.files.indices.map { i =>
      val now = corpus.files(i).dueMs.toDouble
      corpus.files.indices.filter(k => corpus.files(k).dueMs <= now &&
        visAt(k).forall(v => corpus.files(k).dueMs + v > now)).map(rowsOf).sum.toDouble
    }
    ctx.tracer.settle()
    val layers = dedupeMetrics(ctx, allRuns) ++ storeMetrics(ctx, wh, allRuns, t0Ms) ++
      ingestMetrics(ctx, wh, log, corpus, byFile) ++ Map(
        "streaming.backlog_peak_rows" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "gen.late_p50_s" -> Stats.median(lateMs.toSeq) / 1e3,
        "gen.late_max_s" -> lateMs.max / 1e3)
    Outcome(correct, attempted, failed,
      e2e = Map(
        "latency_p50_s" -> Stats.median(fr), "latency_tail_s" -> Stats.tail(fr),
        "throughput_per_s" -> corpus.lines / ((doneMs - feedMs) / 1e3)),
      detail = Map(
        "freshness_p50_s" -> Stats.median(fr), "freshness_p95_s" -> Stats.p95(fr),
        "visible_p50_s" -> Stats.median(vis), "visible_p95_s" -> Stats.p95(vis),
        "files" -> corpus.files.size.toDouble, "lines" -> corpus.lines.toDouble,
        "offered_rows_per_s" -> (StreamFilesPerSec * StreamRowsPerFile).toDouble,
        "latency_n" -> fr.size.toDouble, "latency_tail_q" -> Stats.tailQ(fr.size),
        "backlog_peak_rows" -> layers("streaming.backlog_peak_rows"),
        "gen_late_p50_s" -> layers("gen.late_p50_s"), "gen_late_max_s" -> layers("gen.late_max_s")),
      layers = layers)
  }

  /** hedera_backfill: the calls `EtlApp --once` makes, then a closed loop of
    * reads over the deduped table until the window ends. */
  def backfill(ctx: Ctx, corpus: HederaCorpus): Outcome = {
    // No warm-up: `EtlApp --once` is a one-shot process, so a backfill pays
    // its cold start (code generation, JIT) every time it runs.
    val spark = ctx.spark
    val wh = wire(ctx, BackfillCfg)
    corpus.files.foreach(writeFile(wh.input, _))
    val log = new BatchLog
    spark.streams.addListener(log)
    val t0Ms = ctx.startWindow()
    val tIngest = System.nanoTime()
    startStream(ctx, wh, Trigger.AvailableNow()).awaitTermination()
    val visibleS = Clock.s(tIngest)
    val runs = Seq(dedupe(ctx, wh, "runIncremental"), dedupe(ctx, wh, "runFull"))
    val backfillS = Clock.s(tIngest)
    spark.streams.removeListener(log)

    val day = java.time.LocalDate.of(2024, 1, 1).plusDays(BackfillDays / 2)
    // The reads stand for a long-lived reader: one untimed pass first pays
    // their code generation.
    ctx.tracer.set(false)
    readPass(ctx, wh, day.minusDays(1))
    val passes = Seq.newBuilder[Seq[(String, Double)]]
    val traced = Seq.newBuilder[Boolean]
    val windowNs = tIngest + ctx.seconds * 1000000000L
    var i = 0
    while (i < ReadPasses || System.nanoTime() < windowNs) {
      // A traced run traces every other pass, so it measures its own overhead.
      val on = ctx.traced && i % 2 == 0
      ctx.tracer.set(on)
      passes += readPass(ctx, wh, day); traced += on; i += 1
    }
    ctx.tracer.set(ctx.traced)
    ctx.endWindow()
    val correct = check(ctx, wh, corpus)

    val ps = passes.result()
    val passS = ps.map(_.map(_._2).sum)
    val calls = ps.flatten
    val attempted = log.batches.size + runs.size + calls.size
    val failed = runs.count(!_.ok) + ctx.failedCalls
    ctx.tracer.settle()
    val readSpans = ctx.tracer.of("hedera.analytics")
    val typeScan = ctx.tracer.of("hedera.analytics", "type_day_scan")
    val tableRows = wh.table.read().count().toDouble
    val names = reads(spark, wh, day).map(_._1)
    val tr = passS.zip(traced.result())
    val layers = dedupeMetrics(ctx, runs) ++ storeMetrics(ctx, wh, runs, t0Ms) ++
      ingestMetrics(ctx, wh, log, corpus, fileBatches(wh.checkpoint)) ++
      names.map(n => s"reads.${n}_s" -> Stats.median(calls.filter(_._1 == n).map(_._2))) ++ Map(
        "reads.jobs_per_call" -> Stats.ratio(ctx.tracer.jobsOf(readSpans).toDouble, readSpans.size.toDouble),
        "store.row_groups_read_share" -> Stats.ratio(
          ctx.tracer.recordsReadOf(typeScan).toDouble / math.max(1, typeScan.size), tableRows)) ++
      Trace.overheadShare(tr.map(_.swap))
    Outcome(correct, attempted, failed,
      e2e = Map(
        "latency_p50_s" -> Stats.median(calls.map(_._2)),
        "latency_tail_s" -> Stats.tail(calls.map(_._2)),
        "throughput_per_s" -> corpus.lines / backfillS),
      detail = Map(
        "backfill_rows_per_s" -> corpus.lines / backfillS,
        "backfill_s" -> backfillS, "visible_s" -> visibleS,
        "read_s" -> Stats.median(passS), "read_passes" -> ps.size.toDouble,
        "latency_n" -> calls.size.toDouble, "latency_tail_q" -> Stats.tailQ(calls.size),
        "lines" -> corpus.lines.toDouble, "files" -> corpus.files.size.toDouble),
      layers = layers)
  }
}
