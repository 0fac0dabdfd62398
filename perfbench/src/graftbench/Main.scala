package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload measured. `e2e` holds the gated end-to-end metrics,
  * `detail` the workload's own named figures, `layers` the traced ones. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], detail: Map[String, Double], layers: Map[String, Double])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val heap: HeapWatch,
    val seed: Long, val seconds: Int, val dir: String, val plantWrong: Boolean,
    val traced: Boolean, jvmStartMs: Long, sessionReadyMs: Long, genS: Double) {
  val notes = mutable.ArrayBuffer.empty[String]
  private var failures = 0
  private var excessS = 0.0
  var windowStartMs = 0L
  var windowEndMs = 0L
  private var gcAtStartMs = 0L
  var gcWindowMs = 0L

  /** Wall time of each stage of the run, for the record. */
  val stages = mutable.LinkedHashMap.empty[String, Double]
  private var lastMarkNs = System.nanoTime()
  def mark(stage: String): Unit = synchronized {
    val now = System.nanoTime(); stages(stage) = (now - lastMarkNs) / 1e9; lastMarkNs = now
  }

  def note(s: String): Unit = synchronized { notes += s; System.err.println(s"[bench] $s") }
  def failedCalls: Int = synchronized(failures)

  /** Run one operation, counting it as failed if it throws. */
  def attempt[A](name: String)(body: => A): Option[A] =
    try Some(body)
    catch { case e: Exception =>
      synchronized(failures += 1); note(s"$name failed: $e"); None
    }

  /** Set-up repeated several times counts once, at its median. */
  def wiringExcess(reps: Seq[Double]): Unit = excessS += reps.sum - Stats.median(reps)

  /** Start the timed window from a collected heap, so the after-GC peak
    * does not depend on how much garbage set-up left behind. */
  def startWindow(): Long = {
    System.gc()
    mark("setup")
    tracer.markWindow()
    windowStartMs = System.currentTimeMillis(); gcAtStartMs = heap.gcMs; windowStartMs
  }
  def endWindow(): Long = {
    mark("window")
    windowEndMs = System.currentTimeMillis(); gcWindowMs = heap.gcMs - gcAtStartMs; windowEndMs
  }

  /** Process start to the first timed operation, less input generation and
    * the repeats of set-up beyond their median. */
  def setupS: Double = (windowStartMs - jvmStartMs) / 1e3 - genS - excessS
  def sessionS: Double = (sessionReadyMs - jvmStartMs) / 1e3 - genS
}

/** Benchmark process: one workload, one seed, one run.
  *
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --dir RUNDIR --out RESULT.json --spans SPANS.jsonl
  *  [--corpus DIR --expected HASHES.json] [--plant-wrong]`
  *
  * Writes the result record to `--out`; the launcher prints it. */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def parse(rest: List[String]): List[(String, String)] = rest match {
      case k :: v :: t if !v.startsWith("--") => (k.stripPrefix("--") -> v) :: parse(t)
      case k :: t => (k.stripPrefix("--") -> "1") :: parse(t)
      case Nil => Nil
    }
    val a = parse(argv.toList).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val dir = Paths.get(a("dir")).toAbsolutePath.toString
    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // Inputs come first, in plain JVM code, before Spark loads.
    val (pregen, genS) = Clock.timed(workload match {
      case "hedera_stream" => Some(Hedera.streamCorpus(seed, seconds))
      case "hedera_backfill" => Some(Hedera.backfillCorpus(seed))
      case _ => None
    })
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.local(nproc, s"graftbench-$workload")
    val sessionReadyMs = System.currentTimeMillis()
    val heap = new HeapWatch
    val tracer = new Tracer(spark)
    tracer.set(traced)
    val ctx = new Ctx(spark, tracer, heap, seed, seconds, dir, a.contains("plant-wrong"),
      traced, jvmStartMs, sessionReadyMs, genS)

    val out = workload match {
      case "hedera_stream" => Hedera.stream(ctx, pregen.get)
      case "hedera_backfill" => Hedera.backfill(ctx, pregen.get)
      case "analytics" =>
        val expected = Json.read(new String(Files.readAllBytes(Paths.get(a("expected")))))
          .map { case (k, v) => k -> v.toString }
        Analytics.run(ctx, a("corpus"), expected)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) tracer.writeSpans(Paths.get(a("spans")))
    val sc = spark.sparkContext
    val facts = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cores" -> sc.defaultParallelism, "nproc" -> nproc,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "load_start" -> loadStart,
      "load_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "spark_version" -> spark.version, "gen_s" -> genS, "session_s" -> ctx.sessionS,
      "stages_s" -> { ctx.mark("after"); ctx.stages.toMap })
    val tracedS = tracer.tracedSeconds
    val totals = tracer.total.toMap
    val sparkLayer = Map(
      "spark.jobs" -> totals("jobs"), "spark.stages" -> totals("stages"),
      "spark.tasks" -> totals("tasks"), "spark.exec_run_s" -> totals("exec_run_s"),
      "spark.exec_cpu_s" -> totals("exec_cpu_s"), "spark.gc_s" -> ctx.gcWindowMs / 1e3,
      "spark.exec_share" -> Stats.ratio(totals("exec_run_s"), tracedS * sc.defaultParallelism),
      "spark.shuffle_bytes" -> totals("shuffle_bytes"), "spark.scan_bytes" -> totals("scan_bytes"))
    val e2e = out.e2e ++ Map(
      "setup_s" -> ctx.setupS,
      "heap_peak_mb" -> heap.peakMb(ctx.windowStartMs, ctx.windowEndMs),
      "ok_share" -> (1.0 - Stats.ratio(out.failed.toDouble, out.attempted.toDouble)))
    val record = Map(
      "correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> e2e, "detail" -> out.detail,
      "layers" -> (if (traced) out.layers ++ sparkLayer else Map.empty),
      "facts" -> facts, "notes" -> ctx.notes.toSeq)
    Files.writeString(Paths.get(a("out")), Json.obj(record))
    spark.stop()
  }
}
