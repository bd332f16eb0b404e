package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded corpus with the tables the query registry reads
  * (`graft.queries.Tables.names`), their column names and types, and
  * value domains like the TPC-H-style corpus the registry was written
  * against. Row counts follow the scale factor: `sf` 0.01 gives 60 000
  * line items. Each table is one parquet file, `<dir>/<table>.parquet`,
  * so Spark and DuckDB read the same bytes. Timestamps are written
  * without a time zone, as in that corpus.
  */
object Corpus {
  private val Vocabulary = ("join hash row batch scan column customer filter small slow " +
    "merge order vector line data table agg value key stream window a spark part " +
    "group big sort query fast the").split(' ').toIndexedSeq

  def write(spark: SparkSession, dir: Path, seed: Long, sf: Double): Unit = {
    val rnd = new Random(seed)
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    def money(lo: Double, hi: Double) =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    def day(from: LocalDateTime, days: Int) = from.plusDays(rnd.nextInt(days).toLong)
    val (customers, suppliers, parts) = (n(150000), n(10000), n(200000))
    val (orders, lineitems, users) = (n(1500000), n(6000000), n(15000))
    val events = n(1000000)
    val docs = math.max(500, n(50000))
    val t = TableWriter(spark, dir)

    t("region", Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (name, k) => Row(k, name) })
    t("nation", Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))
    t("customer", Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until customers).map(k => Row(k.toLong, f"Customer#$k%09d", rnd.nextInt(25),
        money(-999.99, 9999.99),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    t("supplier", Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", rnd.nextInt(25),
        money(-999.99, 9999.99))))
    t("part", Seq("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until parts).map(k => Row(k.toLong,
        pick(Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")) + " " +
          pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")),
        s"Brand#${1 + rnd.nextInt(25)}",
        pick(Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")),
        1 + rnd.nextInt(50), 900.0 + (k % 1000) / 10.0)))
    val epoch95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    t("orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until orders).map(k => Row(k.toLong, rnd.nextInt(customers).toLong,
        pick(Seq("F", "O", "P")), money(1000, 500000), day(epoch95, 2404),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    t("lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until lineitems).map { _ =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextInt(orders).toLong, rnd.nextInt(parts).toLong,
          rnd.nextInt(suppliers).toLong, 1 + rnd.nextInt(7), qty,
          math.round(qty * (900 + rnd.nextDouble() * 1200) * 100) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Seq("A", "N", "R")),
          pick(Seq("O", "F")), day(epoch95.plusDays(1), 2499))
      })
    val jan24 = LocalDateTime.of(2024, 1, 1, 0, 0)
    t("events", Seq("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until events).map(k => Row(k.toLong,
        jan24.plusNanos((rnd.nextDouble() * 30 * 86400e6).toLong * 1000),
        rnd.nextInt(users).toLong,
        pick(Seq("click", "signup", "error", "view", "purchase")), money(0.01, 490.0),
        s"""{"k": ${rnd.nextInt(100)}}""")))
    // one document in twenty repeats an earlier one with a marker
    // word, so the dedup queries find near-duplicates
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    for (k <- 0 until docs)
      texts += (if (k > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(k)) + " dup"
        else Seq.fill(10 + rnd.nextInt(90))(pick(Vocabulary)).mkString(" "))
    t("documents", Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.toSeq.map { case (text, k) => Row(k.toLong, text,
        if (rnd.nextInt(100) < 44) "en" else pick(Seq("zh", "de", "es", "fr")),
        s"src${k % 20}", text.length.toLong) })
    t("embeddings", Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType),
      (0 until docs).map { k =>
        val v = Seq.fill(64)(rnd.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(k.toLong, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
      })
  }

  /** Writes one table as a single parquet file. */
  private final case class TableWriter(spark: SparkSession, dir: Path) {
    def apply(name: String, cols: Seq[(String, DataType)], rows: Seq[Row]): Unit = {
      val schema = StructType(cols.map { case (c, t) => StructField(c, t) })
      val tmp = dir.resolve(s".$name")
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
      val file = try part.iterator.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally part.close()
      Files.move(file, dir.resolve(s"$name.parquet"))
      Fs.deleteTree(tmp)
    }
  }
}
