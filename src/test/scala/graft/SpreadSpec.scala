package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Layout-adaptive scan spread (Tables.loadSpread, r12): a table stored with
  * fewer row groups than the cluster has cores executes its scan — and
  * everything pipelined into it — on too few tasks, so CPU-dense call sites
  * opt into one deterministic hash repartition. These tests pin the contract
  * points: it fires on a degenerate layout, it does NOT fire on a healthy
  * multi-file layout (the production case), it never changes results, and
  * pushdown/pruning survive it.
  */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("single-row-group layout gets the spread exchange; results unchanged") {
    val dir = GraftTestSpark.tmpDir("graft-spread-one")
    val src = Tables.load(spark, GraftTestSpark.sfDir, "documents")
    src.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.loadSpread(spark, dir, "documents")
    val p = plan(df)
    assert(p.contains("xxhash64"), s"spread exchange missing:\n$p")
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // results identical to the raw scan (spread only moves rows)
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    assert(df.exceptAll(raw).isEmpty && raw.exceptAll(df).isEmpty)
  }

  test("healthy multi-file layout is left alone (production guard)") {
    val dir = GraftTestSpark.tmpDir("graft-spread-many")
    val par = spark.sparkContext.defaultParallelism
    Tables.load(spark, GraftTestSpark.sfDir, "documents")
      .repartition(par).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(Tables.loadSpread(spark, dir, "documents"))
    assert(!p.contains("xxhash64"), s"spread must not fire on $par files:\n$p")
  }

  test("plain load never spreads") {
    val dir = GraftTestSpark.tmpDir("graft-spread-plain")
    Tables.load(spark, GraftTestSpark.sfDir, "documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val p = plan(Tables.load(spark, dir, "documents"))
    assert(!p.contains("xxhash64"), s"plain load must stay a bare scan:\n$p")
  }

  test("spread=off disables the rewrite (ablation switch)") {
    val dir = GraftTestSpark.tmpDir("graft-spread-off")
    Tables.load(spark, GraftTestSpark.sfDir, "documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    withConf("spark.graft.scan.spread", "off") {
      val p = plan(Tables.loadSpread(spark, dir, "documents"))
      assert(!p.contains("xxhash64"), s"spread=off ignored:\n$p")
    }
  }

  test("pushdown and pruning survive the spread (filters below the exchange)") {
    val dir = GraftTestSpark.tmpDir("graft-spread-push")
    Tables.load(spark, GraftTestSpark.sfDir, "documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.loadSpread(spark, dir, "documents")
      .filter(col("doc_id") < 10).select(col("doc_id"), col("lang"))
    val p = plan(df)
    assert(p.contains("LessThan(doc_id,10)"),
      s"filter must push below the spread exchange:\n$p")
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!rs.contains("text"), s"pruning lost through the spread: $rs")
  }

  test("q1_pricing result is identical with and without the spread") {
    val q = queries.Registry.byName("q1_pricing")
    val on = q.build(spark, GraftTestSpark.sfDir).collect().toSeq
    val off = withConf("spark.graft.scan.spread", "off") {
      q.build(spark, GraftTestSpark.sfDir).collect().toSeq
    }
    assert(on.map(_.toString).sorted == off.map(_.toString).sorted)
  }
  /** Spark jobs the body starts from this thread. Listener delivery is
    * async and in order, so a tagged sentinel job's arrival proves every
    * earlier job start has been counted. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val id = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)) match {
          case Some(`id`) => started.incrementAndGet()
          case Some(s) if s == s"$id-end" => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(tag, id)
      body
      sc.setLocalProperty(tag, s"$id-end")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(l)
    }
  }

  test("an unchanged table loads with zero Spark jobs; a changed setting re-infers") {
    val dir = GraftTestSpark.tmpDir("graft-resolve")
    Tables.load(spark, GraftTestSpark.sfDir, "documents")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(jobsIn(Tables.load(spark, dir, "documents").schema) == 1)
    assert(jobsIn(Tables.load(spark, dir, "documents").schema) == 0)
    assert(jobsIn(Tables.loadSpread(spark, dir, "documents").schema) == 0)
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(jobsIn(Tables.load(spark, dir, "documents").schema) == 1)
    }
  }
}
