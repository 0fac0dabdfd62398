package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{GraftTestSpark, Tables}

/** Drift battery for the scan-side schema-evolution contract: lossless
  * physical drift is invisible (byte-identical rows through Tables.load);
  * lossy/incompatible drift dies loudly at the scan with the table.column
  * named (the round-6 events.ts regression class).
  */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = GraftTestSpark.spark
  private val sfDir = GraftTestSpark.sfDir

  private def drifted(table: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val dir = GraftTestSpark.tmpDir("drift")
    f(Tables.load(spark, sfDir, table))
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  private def rows(dir: String, table: String) =
    Tables.load(spark, dir, table).collect().map(_.toString).sorted.toSeq

  test("int32 ids + extra column on documents normalize invisibly, extras preserved") {
    val dir = drifted("documents")(df => df
      .withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .withColumn("crawl_batch", lit("b7")))
    val out = Tables.load(spark, dir, "documents")
    // Canonical types restored, extra column appended after canonical ones.
    assert(out.schema("doc_id").dataType.typeName == "long")
    assert(out.schema("n_chars").dataType.typeName == "long")
    assert(out.schema.fieldNames.last == "crawl_batch")
    // Values byte-identical to the canonical load.
    assert(out.drop("crawl_batch").collect().map(_.toString).sorted.toSeq ==
      rows(sfDir, "documents"))
  }

  test("events.ts arriving as a MICROS timestamp normalizes to the canonical ns long") {
    // The generator's regen class: ts was a ns long, ships as µs timestamp.
    // Values in the corpus are µs-granular, so the round-trip is exact.
    val dir = drifted("events")(df =>
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)")))
    assert(rows(dir, "events") == rows(sfDir, "events"))
    assert(Tables.load(spark, dir, "events").schema("ts").dataType.typeName == "long")
  }

  test("events.ts arriving as an NTZ timestamp normalizes identically (pinned-UTC session)") {
    val dir = drifted("events")(df =>
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")))
    assert(rows(dir, "events") == rows(sfDir, "events"))
  }

  test("short->int widening on region is lossless and invisible") {
    val dir = drifted("region")(df =>
      df.withColumn("r_regionkey", col("r_regionkey").cast("short")))
    assert(rows(dir, "region") == rows(sfDir, "region"))
    assert(Tables.load(spark, dir, "region").schema("r_regionkey").dataType.typeName == "integer")
  }

  test("float->double embedding elements widen; the vectors survive bit-exactly") {
    // float32 → float64 is exact, and narrowing back to the canonical
    // float32 would NOT be — so canonical stays float and a float-shipped
    // file passes through; widened doubles are rejected (next test). Here:
    // drift the NULLABILITY/physical layout only (rewrite through Spark).
    val dir = drifted("embeddings")(identity)
    assert(rows(dir, "embeddings") == rows(sfDir, "embeddings"))
  }

  test("double embedding elements are rejected loudly (lossy narrowing)") {
    val dir = drifted("embeddings")(df =>
      df.withColumn("embedding", col("embedding").cast("array<double>")))
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "embeddings"))
    assert(e.getMessage.contains("embeddings.embedding"))
  }

  test("int64 label where canonical is int32 is rejected loudly (possible overflow)") {
    val dir = drifted("embeddings")(df =>
      df.withColumn("label", col("label").cast("long")))
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "embeddings"))
    assert(e.getMessage.contains("embeddings.label"))
  }

  test("a missing canonical column is rejected loudly with its name") {
    val dir = drifted("events")(_.drop("props"))
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("events.props"))
    assert(e.getMessage.contains("MISSING"))
  }

  test("a string where a number is expected is rejected loudly") {
    val dir = drifted("documents")(df =>
      df.withColumn("n_chars", col("n_chars").cast("string")))
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "documents"))
    assert(e.getMessage.contains("documents.n_chars"))
  }
  test("a table rewritten in place is re-resolved: lossless then lossy drift") {
    // One path, three file sets in one session. A resolution cached by path
    // alone would keep the first schema: it would drop the new column and
    // let the lossy rewrite through to fail at execution, not at the scan.
    val dir = GraftTestSpark.tmpDir("drift-rewrite")
    val path = s"$dir/documents.parquet"
    val base = Tables.load(spark, sfDir, "documents")
    base.write.mode("overwrite").parquet(path)
    assert(rows(dir, "documents") == rows(sfDir, "documents"))

    base.withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", (col("n_chars") + 1).cast("int"))
      .withColumn("crawl_batch", lit("b8"))
      .write.mode("overwrite").parquet(path)
    val out = Tables.load(spark, dir, "documents")
    assert(out.schema("doc_id").dataType.typeName == "long")
    assert(out.schema("n_chars").dataType.typeName == "long")
    assert(out.schema.fieldNames.last == "crawl_batch")
    val want = base.withColumn("n_chars", col("n_chars") + 1)
      .withColumn("crawl_batch", lit("b8"))
      .collect().map(_.toString).sorted.toSeq
    assert(out.collect().map(_.toString).sorted.toSeq == want)

    base.withColumn("n_chars", col("n_chars").cast("string"))
      .write.mode("overwrite").parquet(path)
    val e = intercept[IllegalStateException](Tables.load(spark, dir, "documents"))
    assert(e.getMessage.contains("documents.n_chars"))
  }
}
