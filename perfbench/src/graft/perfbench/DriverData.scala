package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.pipeline.Fs

/** Seeded generator of the driver tables `SparkEntry.queries` read: a
  * TPC-H-shaped star schema (region, nation, customer, supplier, part,
  * orders, lineitem), an `events` stream table, `documents` (short texts
  * over a small vocabulary, with planted near-duplicates) and
  * `embeddings` (64-d unit vectors). Column names and types follow the
  * queries and their DuckDB oracles. Row counts are those of the
  * SF 0.001 driver tables (1/100 of SF 0.1 for the star schema and
  * `events`; `documents` and `embeddings` have 500 rows each, as at
  * SF 0.01), and the documents follow their text shape: 10 to 100
  * tokens over a 31-word vocabulary, about 40% of them `en`. Every
  * table is one parquet file `<dir>/<name>.parquet`. */
object DriverData {
  val Customers = 150
  val Suppliers = 10
  val Parts = 200
  val Orders = 1500
  val LineItems = 6000
  val Events = 1000
  val Users = 15
  val Documents = 500
  val Embeddings = 500
  val Dim = 64

  private val vocab = ("row the query stream fast spark line small customer " +
    "group value hash batch sort data big filter dup key agg scan slow table " +
    "part a merge window order column join vector").split(" ")
  private val otherLangs = Array("de", "es", "fr", "zh")

  private def r2(d: Double): Double = math.round(d * 100) / 100.0

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new java.util.Random(seed)
    // one file per table, as the driver tables are
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val tmp = s"$dir/_$name"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(tmp)
      val part = Fs.listFiles(tmp, "part-").head.stripPrefix("file:")
      Files.move(Paths.get(part), Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      Fs.deleteRecursive(tmp)
    }
    def f(n: String, t: DataType) = StructField(n, t)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    table("nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    table("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(rnd.nextDouble() * 10000 - 1000), segments(rnd.nextInt(5)))))
    // suppliers leave some nations without a supplier (q9's semi join)
    table("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(20),
        r2(rnd.nextDouble() * 10000 - 1000))))

    val adjs = Array("cold", "small", "red", "shiny", "heavy", "light", "blue", "old")
    val nouns = Array("widget", "gear", "bolt", "panel", "valve", "spring", "lever", "hinge")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    table("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until Parts).map(i => Row(i.toLong,
        s"${adjs(rnd.nextInt(adjs.length))} ${nouns(rnd.nextInt(nouns.length))}",
        s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(types.length)),
        1 + rnd.nextInt(50), r2(900 + (i % 1000) * 0.1))))

    val day = 86400000L
    val epoch1995 = 788918400000L // 1995-01-01T00:00:00Z
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Array("F", "O", "P")
    // one customer in a hundred places no order (q3's anti join has rows)
    table("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until Orders).map { i =>
        val c = rnd.nextInt(Customers - Customers / 100)
        Row(i.toLong, c.toLong, status(rnd.nextInt(3)), r2(1000 + rnd.nextDouble() * 300000),
          new Timestamp(epoch1995 + rnd.nextInt(2404) * day), prios(rnd.nextInt(5)))
      })
    // line items reference nine parts in ten (q4's semi join filters)
    table("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until LineItems).map { _ =>
        val q = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextInt(Orders).toLong, rnd.nextInt(Parts * 9 / 10).toLong,
          rnd.nextInt(Suppliers).toLong, 1 + rnd.nextInt(7), q,
          r2(q * (900 + rnd.nextDouble() * 1200)), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, "ANR".charAt(rnd.nextInt(3)).toString,
          "OF".charAt(rnd.nextInt(2)).toString,
          new Timestamp(epoch1995 + (1 + rnd.nextInt(2499)) * day))
      })

    val epoch2024 = 1704067200000L // 2024-01-01T00:00:00Z
    val evTypes = Array("click", "signup", "error", "view", "purchase")
    table("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until Events).map { i =>
        val ts = new Timestamp(epoch2024 + (rnd.nextDouble() * 30 * day).toLong)
        ts.setNanos(rnd.nextInt(1000000) * 1000)
        Row(i.toLong, ts, rnd.nextInt(Users).toLong, evTypes(rnd.nextInt(5)),
          r2(0.01 + rnd.nextDouble() * 490), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // one document in twenty is a copy of an earlier one with a few
    // tokens replaced, so the near-duplicate operators have pairs to verify
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until Documents).foreach { i =>
      val toks =
        if (i >= 10 && rnd.nextInt(20) == 0) {
          val t = texts(rnd.nextInt(i)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach(_ => t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.length)))
          t
        } else Array.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length)))
      texts += toks
    }
    table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        val s = t.mkString(" ")
        val lang = if (rnd.nextInt(5) < 2) "en" else otherLangs(rnd.nextInt(4))
        Row(i.toLong, s, lang, s"src${rnd.nextInt(20)}", s.length.toLong)
      }.toSeq)

    table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val v = Array.fill(Dim)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
      })
  }
}
