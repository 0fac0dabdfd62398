package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.queries.{Q, Registry}

/** The analytics workload: a closed loop with one client over the generated
  * corpus. Each pass runs the headline queries and the four operator calls
  * the roadmap probed, each forced through the noop sink, in an order the
  * seed permutes per pass. */
object Analytics {
  val Operators = Seq("t_curation_pipeline", "t_source_pagerank", "t_bm25", "t_prf_rm3")

  def calls: Seq[Q] = Registry.headline ++ Operators.map(Registry.byName)

  def layer(q: Q): String = if (q.headline) "queries" else "operators"

  /** Order-insensitive hash of a result: row count, the sum and the xor of
    * per-row hashes. Columns are hashed by position; doubles and floats are
    * rounded to 9 decimals first, so a last-bit difference from summation
    * order cannot flip the hash. */
  def hash(df: DataFrame): String = {
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val c = col(s"`c$i`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9)
        case _ => c
      }
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = named.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every call's result as parquet plus oracle_sql.json, the layout
    * tools/check_oracle.py reads, with the hash the benchmark pins. */
  def dump(spark: SparkSession, corpus: String, out: String): Unit = {
    val oracle = calls.flatMap(q => q.oracle.map(q.name -> _)).toMap
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"), Json.obj(oracle))
    val hashes = calls.map { q =>
      q.build(spark, corpus).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
      q.name -> hash(q.build(spark, corpus))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "hashes.json"),
      Json.obj(scala.collection.immutable.ListMap(hashes: _*)))
  }

  def run(ctx: Ctx, corpus: String, expected: Map[String, String]): Outcome = {
    val spark = ctx.spark
    val all = calls
    // Set-up is the warm-up pass, which is also the correctness gate.
    val hashes = all.zipWithIndex.map { case (q, i) =>
      ctx.attempt(q.name) {
        val df = q.build(spark, corpus)
        hash(if (ctx.plantWrong && i == 0) df.union(df.limit(1)) else df)
      }
    }
    var correct = true
    all.zip(hashes).foreach { case (q, got) =>
      val want = expected.get(q.name)
      if (got.isEmpty || got != want) {
        correct = false
        ctx.note(s"${q.name}: result hash ${got.getOrElse("<failed>")}, expected ${want.getOrElse("<none>")}")
      }
    }

    ctx.startWindow()
    val windowNs = System.nanoTime() + ctx.seconds * 1000000000L
    val rnd = new scala.util.Random(ctx.seed)
    val passes = Seq.newBuilder[(Boolean, Seq[(Q, Double)])]
    var i = 0
    // Passes fill the window: another starts only if one more of the same
    // length still ends inside it. At least two run, so each call has a
    // median of its own and the tail quantile more than one sample.
    var lastNs = 0L
    while (i < 2 || System.nanoTime() + lastNs <= windowNs) {
      val passStart = System.nanoTime()
      val on = ctx.traced && i % 2 == 0
      ctx.tracer.set(on)
      val times = rnd.shuffle(all).map { q =>
        q -> Clock.timed(ctx.attempt(q.name)(ctx.tracer.span(layer(q), q.name) {
          noop(q.build(spark, corpus))
        }))._2
      }
      passes += on -> times; i += 1
      lastNs = System.nanoTime() - passStart
    }
    ctx.tracer.set(ctx.traced)
    ctx.endWindow()
    ctx.tracer.settle()

    val ps = passes.result()
    val times = ps.flatMap(_._2)
    def passSum(p: Seq[(Q, Double)], l: String) = p.filter(x => layer(x._1) == l).map(_._2).sum
    val tr = ps.map { case (on, p) => on -> p.map(_._2).sum }
    // Planning and execution of the SQL executions inside each traced
    // queries-layer span (one client thread, so wall intervals attribute).
    val events = ctx.tracer.queries.asScala.toSeq
    def within(l: String) = ctx.tracer.of(l).map { s =>
      val (a, b) = (Clock.wallMs(s.startNs), Clock.wallMs(s.endNs))
      events.filter(e => e.startMs >= a && e.startMs <= b)
    }
    val qSpans = ctx.tracer.of("queries")
    val oSpans = ctx.tracer.of("operators")
    val perPass = qSpans.size.toDouble / math.max(1, Registry.headline.size)
    val qEvents = within("queries").flatten
    val layers = all.map(q => s"${if (q.headline) "queries" else "curation"}.${q.name}_s" ->
      Stats.median(times.filter(_._1.name == q.name).map(_._2))).toMap ++ Map(
      "queries.plan_s" -> Stats.ratio(qEvents.map(_.planMs / 1e3).sum, perPass),
      "queries.exec_s" -> Stats.ratio(qEvents.map(_.execNs / 1e9).sum, perPass),
      "queries.jobs_per_call" -> Stats.ratio(ctx.tracer.jobsOf(qSpans).toDouble, qSpans.size.toDouble),
      "curation.jobs_per_call" -> Stats.ratio(ctx.tracer.jobsOf(oSpans).toDouble, oSpans.size.toDouble)) ++
      Trace.overheadShare(tr)
    Outcome(correct, attempted = all.size + times.size, failed = ctx.failedCalls,
      e2e = Map(
        "latency_p50_s" -> Stats.median(times.map(_._2)),
        "latency_tail_s" -> Stats.tail(times.map(_._2)),
        "throughput_per_s" -> times.size / times.map(_._2).sum),
      detail = Map(
        "queries_s" -> Stats.median(ps.map(p => passSum(p._2, "queries"))),
        "curation_s" -> Stats.median(ps.map(p => passSum(p._2, "operators"))),
        "passes" -> ps.size.toDouble,
        "latency_n" -> times.size.toDouble, "latency_tail_q" -> Stats.tailQ(times.size)),
      layers = layers)
  }
}

/** `graftbench.Dump <corpusDir> <outDir>`: write every analytics call's
  * result for the oracle check and the hashes the benchmark pins
  * (perfbench/validate.py drives it). */
object Dump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors(), "graftbench-dump")
    Analytics.dump(spark, args(0), args(1))
    spark.stop()
  }
}
