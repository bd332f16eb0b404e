package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.gold.Gold
import graft.model.Purchase
import graft.sources.ProductCsv

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def onePurchase(ts: Timestamp, txn: String) = Gold.fctPurchases(
    Seq(Purchase(ts, txn, "CS01", 4.99, 1, false, 0.0, false, 0.0)).toDS()
      .toDF().withColumn("ingestion_timestamp", col("transaction_time")))

  test("writeTable[Atomic]: create-or-append commits snapshots, catalog name is a pointer (delta_to_iceberg.py:36-52)") {
    val ts = Timestamp.valueOf("2025-06-01 10:00:00")
    val fct = onePurchase(ts, "1")
    spark.sql("CREATE DATABASE IF NOT EXISTS ecommerce_data_lake")
    val table = "ecommerce_data_lake.fct_purchases_cat_test"
    spark.sql(s"DROP VIEW IF EXISTS $table")
    assert(!spark.catalog.tableExists(table))
    Gold.writeTable(spark, fct, table, "purchase_date")
    assert(spark.catalog.tableExists(table))
    assert(spark.table(table).count() === 1)
    Gold.writeTable(spark, fct, table, "purchase_date") // append branch
    assert(spark.table(table).count() === 2)
    // the catalog name resolves to a committed snapshot: Hive
    // partition layout on disk, partition column restored and typed
    val root = Gold.atomicRoot(spark, table)
    assert(graft.gold.AtomicTable.latestVersion(root) === Some(1))
    val snap = java.nio.file.Paths.get(root, "_snap", "v1")
    assert(java.nio.file.Files.list(snap).iterator().asScala
      .exists(_.getFileName.toString.startsWith("purchase_date=")))
    val byDate = spark.table(table)
      .filter(col("purchase_date") === java.sql.Date.valueOf("2025-06-01"))
    assert(byDate.count() === 2)
    // v0 export remains readable — time travel survives the repoint
    assert(spark.read.parquet(s"$root/_snap/v0").count() === 1)
    spark.sql(s"DROP VIEW $table")
  }

  test("writeTable[Atomic]: racing create-or-append writers both survive and the pointer converges") {
    val table = "wt_race_test"
    spark.sql(s"DROP VIEW IF EXISTS $table")
    val dfs = (0 until 4).map(i =>
      onePurchase(Timestamp.valueOf(s"2025-06-0${i + 1} 10:00:00"), s"t$i"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = dfs.map(d => pool.submit(new Runnable {
        def run(): Unit = Gold.writeTable(spark, d, table, "purchase_date")
      }))
      futures.foreach(_.get())
    } finally pool.shutdown()
    // every writer's row survived the commit race, and the published
    // pointer is the newest manifest (no lost update, no stale view)
    assert(spark.table(table).count() === 4)
    val root = Gold.atomicRoot(spark, table)
    assert(graft.gold.AtomicTable.latestVersion(root) === Some(3))
    assert(spark.table(table).select("transaction_id").as[String]
      .collect().sorted === Array("t0", "t1", "t2", "t3"))
    spark.sql(s"DROP VIEW $table")
  }

  test("writeTable: a name bound to the OTHER format fails fast, not split-brain") {
    // the pointer publish is CREATE OR REPLACE VIEW, which throws on a
    // real table only AFTER the batch committed to the _graft_atomic
    // root — the misuse must be caught BEFORE any data moves
    val ts = Timestamp.valueOf("2025-06-01 10:00:00")
    val fct = onePurchase(ts, "1")
    spark.sql("CREATE DATABASE IF NOT EXISTS ecommerce_data_lake")
    val plain = "ecommerce_data_lake.fmt_clash_plain"
    spark.sql(s"DROP TABLE IF EXISTS $plain")
    fct.write.format("parquet").partitionBy("purchase_date").saveAsTable(plain)
    val e1 = intercept[IllegalArgumentException] {
      Gold.writeTable(spark, fct, plain, "purchase_date")
    }
    assert(e1.getMessage.contains("not an atomic snapshot-pointer view"),
      e1.getMessage)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(Gold.atomicRoot(spark, plain))))
    spark.sql(s"DROP TABLE $plain")
  }

  test("catalog introspection builtins (debug_catalog.sql:1-3)") {
    val r = spark.sql(
      "SELECT current_catalog() AS cat, current_schema() AS sch").head()
    assert(r.getString(0) === "spark_catalog")
    assert(r.getString(1) !== null)
  }

  test("product CSV seed: header read, typed cast, lower(x)=='true' bools") {
    val dir = tmpDir("products-csv")
    val csv =
      """ID,Category,Item,Size,COGS,Price,Inventory,ContainsFruit,ContainsVeggies,ContainsNuts,ContainsCaffeine,_CatWeight,_ItemWeight,_TotalWeight,_RangeWeight
        |CS01,Classic Smoothies,Sunrise Sunset,24 oz.,1.50,4.99,75,TRUE,FALSE,FALSE,FALSE,3,1,3,3
        |SC02,Supercharged Smoothies,Triple Berry,24 oz.,2.00,6.99,75,true,false,TRUE,tRuE,2,1,2,5""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/products.csv"), csv)
    val products = ProductCsv.load(spark, s"$dir/products.csv").collect()
      .map(p => p.product_id -> p).toMap
    assert(products.size === 2)
    assert(products("CS01").price === 4.99)
    assert(products("CS01").contains_fruit && !products("CS01").contains_veggies)
    assert(products("SC02").contains_caffeine) // mixed-case "tRuE"
    assert(products("SC02").propensity_to_buy === 5)
  }

  test("product CSV dirty cells: blank bool loads FALSE, blank numeric names itself") {
    val dir = tmpDir("products-csv-dirty")
    // blank ContainsFruit: the reference's str(None).lower() != 'true'
    // loads False — a raw NULL would crash the non-nullable encoder
    val okCsv =
      """ID,Category,Item,Size,COGS,Price,Inventory,ContainsFruit,ContainsVeggies,ContainsNuts,ContainsCaffeine,_RangeWeight
        |CS01,Classic,Berry,24 oz.,1.50,4.99,75,,FALSE,FALSE,FALSE,3""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/ok.csv"), okCsv)
    val p = ProductCsv.load(spark, s"$dir/ok.csv").collect().head
    assert(!p.contains_fruit)
    // blank Price: a named error, not an opaque encoder crash
    val badCsv =
      """ID,Category,Item,Size,COGS,Price,Inventory,ContainsFruit,ContainsVeggies,ContainsNuts,ContainsCaffeine,_RangeWeight
        |CS01,Classic,Berry,24 oz.,1.50,,75,TRUE,FALSE,FALSE,FALSE,3""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.csv"), badCsv)
    val e = intercept[Exception] {
      ProductCsv.load(spark, s"$dir/bad.csv").collect()
    }
    def has(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("Price")) || has(t.getCause))
    assert(has(e), s"got: $e")
  }
}
