package graftbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Generates the analytics corpus: the ten tables the headline queries and
  * operator calls read, in the schema of the repository's synthetic test data
  * (FIXTURES.md §3, TESTDATA.md) at about its sf0.01 row counts. The corpus
  * seed is fixed, so every checkout builds byte-identical tables and the
  * pinned result hashes hold; the run seed only permutes call order.
  *
  * Run in its own JVM before the measured process starts:
  * `graftbench.Corpus <outDir>`. */
object Corpus {
  val Seed = 42L
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Users = 150
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private val words = ("a agg batch big column customer data dup fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window")
    .split(' ')

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atStartOfDay()

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = graft.GraftSession.local(2, "graftbench-corpus")
    val r = new SplittableRandom(Seed)
    // One parquet file per table, as in the repository's test data.
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = s"$out/.$name"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(out, s"$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), segments(r.nextInt(5)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val adjectives = Array("blue", "cold", "hot", "new", "old", "red", "small", "big")
    val nouns = Array("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until Parts).map(i => Row(i.toLong,
        s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
        "FOP".charAt(r.nextInt(3)).toString, money(r, 1000, 500000),
        day(r, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)), priorities(r.nextInt(5)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until LineItems).map(_ => Row(r.nextInt(Orders).toLong, r.nextInt(Parts).toLong,
        r.nextInt(Suppliers).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        money(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
        day(r, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)))))
    val eventTypes = Array("click", "error", "purchase", "signup", "view")
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanUs = 30L * 86400L * 1000000L
    val offsets = Array.fill(Events)(r.nextLong(spanUs)).sorted
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until Events).map(i => Row(i.toLong, start.plusNanos(offsets(i) * 1000L),
        r.nextInt(Users).toLong, eventTypes(r.nextInt(5)), money(r, 0.01, 490.02),
        s"""{"k": ${r.nextInt(100)}}""")))
    // Documents: random word salads, one in ten a near-copy (a word or two
    // swapped) of an earlier document, so the dedup stages find clusters.
    val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Documents).foreach { i =>
      val t =
        if (i > 10 && r.nextInt(10) == 0) {
          val w = texts(r.nextInt(texts.size)).split(' ')
          (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = words(r.nextInt(words.length)))
          w.mkString(" ")
        } else Seq.fill(10 + r.nextInt(81))(words(r.nextInt(words.length))).mkString(" ")
      texts += t
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
      }.toSeq)
    // Embeddings: ten labelled clusters on the unit sphere.
    val centers = Array.fill(10)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    spark.stop()
  }
}
