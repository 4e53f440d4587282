package perfbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The testdata tables the registry sample reads (`lineitem`, `orders`,
  * `customer`, `documents`, `embeddings`), one parquet file each, in the
  * shape of the sf0.001 testdata (`TESTDATA.md`). The content is fixed (its
  * own seed, not the run's) so that every row's output digest is a
  * constant the benchmark can check.
  */
object RegistryData {
  val Seed = 42L
  private val words = Vector("the", "a", "fast", "slow", "key", "order", "sort", "table",
    "scan", "merge", "part", "window", "small", "big", "hash", "join", "batch", "stream",
    "spark", "dup", "group", "query", "row", "data", "filter", "customer", "line", "value",
    "agg", "column", "vector")

  private def ts(rng: java.util.SplittableRandom): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.of(1995, 1, 1)
      .plusDays(rng.nextInt(2500).toLong).atStartOfDay())

  def write(spark: SparkSession, dir: String): Unit = {
    val rng = new java.util.SplittableRandom(Seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val nOrders = 1500
    val nCust = 150
    save("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until nCust).map { i =>
        Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25), rng.nextInt(1000000) / 100.0,
          Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(rng.nextInt(5)))
      })
    save("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))),
      (0 until nOrders).map { i =>
        Row(i.toLong, rng.nextInt(nCust).toLong, Vector("F", "O", "P")(rng.nextInt(3)),
          rng.nextInt(40000000) / 100.0, ts(rng),
          Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rng.nextInt(5)))
      })
    save("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
      (0 until 6000).map { _ =>
        val q = (1 + rng.nextInt(50)).toDouble
        Row(rng.nextInt(nOrders).toLong, rng.nextInt(200).toLong, rng.nextInt(10).toLong,
          1 + rng.nextInt(7), q, q * (900 + rng.nextInt(100000) / 100.0),
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Vector("A", "N", "R")(rng.nextInt(3)), Vector("O", "F")(rng.nextInt(2)), ts(rng))
      })

    // ~10% of documents copy an earlier one with one token changed, so the
    // dedup rows find real clusters.
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      if (i > 10 && rng.nextDouble() < 0.1) {
        val base = texts(rng.nextInt(i)).split(" ")
        base(rng.nextInt(base.length)) = words(rng.nextInt(words.size))
        texts += base.mkString(" ")
      } else texts += Vector.fill(20 + rng.nextInt(80))(words(rng.nextInt(words.size))).mkString(" ")
    }
    val langs = Vector("en", "en", "en", "es", "de", "fr", "zh")
    save("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(rng.nextInt(langs.size)), s"src${rng.nextInt(20)}", t.length.toLong)
      }.toSeq)

    // Ten label centres plus noise: ANN recall and clustering have
    // neighbourhoods to find.
    val centres = Vector.fill(10)(Vector.fill(64)(rng.nextDouble() * 2 - 1))
    save("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rng.nextInt(10)
        val v = centres(label).map(_ + (rng.nextDouble() * 2 - 1) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      })
  }
}
