package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def obj(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): Map[String, Any] =
    mapper.readValue(s, classOf[Map[String, Any]])
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p95(xs: Seq[Double]): Double = quantile(xs, 0.95)
  /** The highest quantile with at least ten samples beyond it (p95 from 200
    * samples on; never below the median). */
  def tailQ(n: Int): Double = math.max(0.5, 1.0 - 10.0 / math.max(n, 1))
  def tail(xs: Seq[Double]): Double = quantile(xs, tailQ(xs.size))
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

/** Wall-clock helpers: nanoTime for intervals, epoch ms for events that
  * Spark reports in wall time. */
object Clock {
  def s(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, s(t0))
  }
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000
  /** Epoch ms of a nanoTime reading. */
  def wallMs(ns: Long): Long = ns / 1000000 + offsetMs
  /** nanoTime reading of an epoch ms. */
  def nanoOf(ms: Long): Long = (ms - offsetMs) * 1000000
}
