package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the query workloads' tables: the TPC-H-shaped star
  * schema plus `events`, `documents` and `embeddings`, with the column names,
  * types and value domains the library's queries read.
  *
  * Every row draws from its own random stream (table seed mixed with the row
  * index), so the output does not depend on how Spark partitions the work.
  * Each table is one parquet file with one row group, the layout the queries
  * are written against. Row counts follow the scale factor `sf` (lineitem =
  * 6M × sf); the text and vector tables keep a floor of 500 rows.
  */
object DataGen {

  /** Bumped whenever the generated bytes change, so cached tables rebuild. */
  val version = 1

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val tpchTables: Set[String] = tables.take(7).toSet

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val orderStatus = Array("F", "O", "P")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatus = Array("F", "O")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val partAdj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val partNoun = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "error", "purchase", "signup", "view")
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val langs = Array("de", "es", "fr", "zh")

  private def rng(tableSeed: Long, i: Long): SplittableRandom =
    new SplittableRandom(tableSeed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round(r.nextDouble(lo, hi) * 100) / 100.0

  private val orderEpoch = LocalDate.of(1995, 1, 1)
  private val orderDays = 2404 // up to 2001-08-01
  private val eventEpoch = LocalDateTime.of(2024, 1, 1, 0, 0)
  private val eventSpanMicros = 30L * 24 * 3600 * 1000000

  private def docText(seed: Long, i: Long): String = {
    // 1 in 20 documents is a near copy of an earlier one (a few words
    // replaced), so the dedup and similarity queries find pairs.
    val r = rng(seed, i)
    if (i >= 20 && r.nextInt(20) == 0) {
      val words = docText(seed, r.nextLong(i)).split(' ')
      (0 until 1 + r.nextInt(3)).foreach(_ => words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length)))
      words.mkString(" ")
    } else Seq.fill(8 + r.nextInt(88))(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  private case class Spec(schema: StructType, n: Long, row: (SplittableRandom, Long) => Row)

  private def specs(sf: Double): Map[String, Spec] = {
    def n(base: Double, floor: Long = 1) = math.max(floor, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nUsers = n(15000)
    def f(name: String, t: DataType) = StructField(name, t)
    Map(
      "region" -> Spec(StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), 5,
        (_, i) => Row(i.toInt, regions(i.toInt))),
      "nation" -> Spec(StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), 25, (_, i) => Row(i.toInt, s"NATION_$i", (i % 5).toInt)),
      "customer" -> Spec(StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        nCust, (r, i) => Row(i, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99),
          segments(r.nextInt(5)))),
      "supplier" -> Spec(StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        nSupp, (r, i) => Row(i, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))),
      "part" -> Spec(StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        nPart, (r, i) => Row(i, s"${partAdj(r.nextInt(8))} ${partNoun(r.nextInt(8))}",
          s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(6)), 1 + r.nextInt(50),
          900.0 + (i % 1000) / 10.0)),
      "orders" -> Spec(StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        nOrders, (r, i) => Row(i, r.nextLong(nCust), orderStatus(r.nextInt(3)),
          money(r, 1000, 500000), orderEpoch.plusDays(r.nextInt(orderDays)).atStartOfDay(),
          priorities(r.nextInt(5)))),
      "lineitem" -> Spec(StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        n(6000000), (r, _) => Row(r.nextLong(nOrders), r.nextLong(nPart), r.nextLong(nSupp),
          1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, money(r, 900, 105000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, returnFlags(r.nextInt(3)),
          lineStatus(r.nextInt(2)),
          orderEpoch.plusDays(1 + r.nextInt(orderDays + 95)).atStartOfDay())),
      "events" -> Spec(StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
        n(1000000), { (r, i) =>
          val total = n(1000000)
          val micros = eventSpanMicros * i / total + r.nextLong(eventSpanMicros / total)
          Row(i, eventEpoch.plusNanos(micros * 1000), r.nextLong(nUsers),
            eventTypes(r.nextInt(5)), math.max(0.01, math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0),
            s"""{"k": ${r.nextInt(100)}}""")
        }),
      "documents" -> Spec(StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
        n(50000, 500), { (r, i) =>
          val text = docText(0xD0C5L, i)
          Row(i, text, if (r.nextInt(100) < 44) "en" else langs(r.nextInt(4)), s"src${i % 20}",
            text.length.toLong)
        }),
      "embeddings" -> Spec(StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        n(20000, 500), { (r, i) =>
          // ten label clusters: a fixed centre per label plus noise, unit length
          val label = r.nextInt(10)
          val c = rng(0xCE47L, label)
          val v = Array.fill(64)(c.nextGaussian() + 0.8 * r.nextGaussian())
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i, v.map(x => (x / norm).toFloat).toSeq, label)
        }))
  }

  /** Write every table for scale `sf` under `dir` (one `<table>.parquet`
    * directory each). Skips the work when `dir` already holds this version. */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val marker = java.nio.file.Paths.get(dir, s"_generated_v$version")
    if (java.nio.file.Files.exists(marker)) return
    val all = specs(sf)
    tables.zipWithIndex.foreach { case (name, t) =>
      val spec = all(name)
      val tableSeed = 1000L + t
      val rows = spark.sparkContext
        .range(0L, spec.n, numSlices = math.max(1, math.min(8, (spec.n / 50000).toInt)))
        .map(i => spec.row(rng(tableSeed, i), i))
      spark.createDataFrame(rows, spec.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.createFile(marker)
  }
}
