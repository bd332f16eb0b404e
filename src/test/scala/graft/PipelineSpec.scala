package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.generator.EventGenerator
import graft.gold.Gold
import graft.ingest.Silver
import graft.model._

class ModelMoneySpec extends SparkSpec {
  test("gold final_amount: supplement once per txn, post-discount (fct_purchases.sql:35)") {
    assert(Money.goldFinalAmount(4.99, 2, 0.10, 1.99) ===
      4.99 * 2 * 0.9 + 1.99)
    assert(Money.goldFinalAmount(5.0, 1, 0.0, 0.0) === 5.0)
  }
  test("producer total_purchase: supplement per unit, inside discount, cents-rounded (purchase.py:23-25)") {
    assert(Money.producerTotalPurchase(4.99, 2, 0.10, 1.99) ===
      math.round(2 * (4.99 + 1.99) * 0.9 * 100.0) / 100.0)
    // the two formulas genuinely disagree (SURVEY.md §7.4 #2)
    assert(Money.goldFinalAmount(4.99, 2, 0.10, 1.99) !==
      Money.producerTotalPurchase(4.99, 2, 0.10, 1.99))
  }
  test("purchase schema derives from the case class (one source of truth)") {
    val names = Schemas.purchase.fieldNames.toSeq
    assert(names === Seq("transaction_time", "transaction_id", "product_id",
      "price", "quantity", "is_member", "member_discount", "add_supplement",
      "supplement_price"))
  }
}

class GeneratorSpec extends SparkSpec {
  private val out = EventGenerator.generate(EventGenerator.defaultProducts, 2000)

  test("deterministic for a fixed seed") {
    val again = EventGenerator.generate(EventGenerator.defaultProducts, 2000)
    assert(out.purchases === again.purchases)
    assert(out.inventoryEvents === again.inventoryEvents)
  }
  test("frequencies match configuration.ini: member ~0.3, quantity 1 ~0.8") {
    val n = out.purchases.size.toDouble
    val memberRate = out.purchases.count(_.is_member) / n
    assert(memberRate > 0.25 && memberRate < 0.35, s"memberRate=$memberRate")
    val q1 = out.purchases.count(_.quantity == 1) / n
    assert(q1 > 0.75 && q1 < 0.85, s"q1=$q1")
    val q3 = out.purchases.count(_.quantity == 3) / n
    assert(q3 < 0.07, s"q3=$q3")
  }
  test("members always get the 10% discount; non-members none") {
    assert(out.purchases.forall(p =>
      if (p.is_member) p.member_discount === 0.10 else p.member_discount === 0.0))
  }
  test("restock property: every event fires at level ≤ 10 and adds exactly 15") {
    assert(out.inventoryEvents.nonEmpty)
    assert(out.inventoryEvents.forall(e =>
      e.existing_level <= 10 && e.stock_quantity === 15 &&
        e.new_level === e.existing_level + 15))
  }
  test("duplicate propensity values in the seed fail loudly, not silently shadow a product") {
    val dup = EventGenerator.defaultProducts.take(2)
      .map(_.copy(propensity_to_buy = 7))
    val e = intercept[IllegalArgumentException] {
      EventGenerator.generate(dup, 10)
    }
    assert(e.getMessage.contains("propensity_to_buy"))
  }
  test("closestMatch = reference's linear argmin (producer.py:203-204)") {
    val ladder = IndexedSeq(3, 6, 9, 30, 60)
    def linear(k: Int) = ladder.minBy(v => (math.abs(v - k), v))
    // python's min() takes the FIRST argmin → lower value on ties
    for (k <- 0 to 65)
      assert(EventGenerator.closestMatch(ladder, k) === linear(k), s"k=$k")
  }
}

class SilverSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2025-06-01 10:00:00")
  private val p = Purchase(ts, "123", "CS01", 4.99, 2, true, 0.10, true, 1.99)

  test("parse→flatten→stamp round-trips the generator JSON") {
    val raw = Seq(EventGenerator.toJson(p)).toDF("value")
    val row = Silver.parsePurchases(raw, ingestionTs = lit(ts)).head()
    assert(row.getAs[Timestamp]("transaction_time") === ts)
    assert(row.getAs[String]("product_id") === "CS01")
    assert(row.getAs[Double]("price") === 4.99)
    assert(row.getAs[Boolean]("add_supplement") === true)
    assert(row.getAs[Double]("supplement_price") === 1.99)
    // total_purchase from the wire envelope is dropped by the schema
    assert(!row.schema.fieldNames.contains("total_purchase"))
  }
  test("reference schema-drift regression: add_supplements (producer spelling) → NULL") {
    val drifted = EventGenerator.toJson(p)
      .replace("\"add_supplement\":", "\"add_supplements\":")
    val row = Silver.parsePurchases(Seq(drifted).toDF("value"),
      ingestionTs = lit(ts)).head()
    assert(row.isNullAt(row.fieldIndex("add_supplement")))
    assert(row.getAs[Double]("price") === 4.99) // rest still parses
  }
  test("permissive parse: malformed JSON → NULL columns, row kept") {
    val row = Silver.parsePurchases(Seq("not json at all").toDF("value"),
      ingestionTs = lit(ts)).head()
    assert(row.isNullAt(row.fieldIndex("transaction_id")))
  }

  test("quarantine split: malformed payloads routed with raw + reason, valid flow on") {
    val raw = Seq(
      EventGenerator.toJson(p),
      "not json at all",
      """{"wrong":"shape"}""").toDF("value")
    val (valid, quarantined) = Silver.parseWithQuarantine(raw, ingestionTs = lit(ts))
    assert(valid.count() === 1)
    assert(valid.head().getAs[String]("product_id") === "CS01")
    val q = quarantined.collect()
    assert(q.length === 2)
    assert(q.map(_.getAs[String]("raw_payload")).toSet
      === Set("not json at all", """{"wrong":"shape"}"""))
    assert(q.forall(_.getAs[String]("reason") == "unparseable_or_missing_key"))
  }
  test("quarantine split: partially-malformed envelope (missing money field) → DLQ, not null columns") {
    // an envelope that parses but lacks price/quantity would poison
    // final_amount downstream as silent nulls — it must quarantine
    // with its own reason, distinct from fully-unparseable payloads
    val partial =
      """{"transaction_id":"x9","transaction_time":"2025-06-01 00:00:00","product_id":"CS01"}"""
    val raw = Seq(EventGenerator.toJson(p), partial).toDF("value")
    val (valid, quarantined) = Silver.parseWithQuarantine(raw, ingestionTs = lit(ts))
    assert(valid.count() === 1)
    assert(valid.head().getAs[String]("transaction_id") === "123")
    val q = quarantined.collect()
    assert(q.length === 1)
    assert(q.head.getAs[String]("raw_payload") === partial)
    assert(q.head.getAs[String]("reason") === "missing_required_field")
  }
}

class GoldSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2025-06-01 10:00:00")
  private def purchaseDf(rows: Purchase*) =
    rows.toDS().toDF().withColumn("ingestion_timestamp", col("transaction_time"))

  test("fct arithmetic golden (fct_purchases.sql:30-47)") {
    val df = purchaseDf(Purchase(ts, "1", "CS01", 4.99, 2, true, 0.10, true, 1.99))
    val row = Gold.fctPurchases(df).head()
    assert(row.getAs[Double]("final_amount") === 4.99 * 2 * 0.9 + 1.99)
    assert(row.getAs[java.sql.Date]("purchase_date").toString === "2025-06-01")
    assert(row.getAs[String]("transaction_id") === "1")
  }
  /** transaction_id → product_id of the fact table's snapshot */
  private def facts(root: String): Map[String, String] =
    Gold.readFact(spark, root).select("transaction_id", "product_id")
      .as[(String, String)].collect().toMap

  test("incremental: second run with identical source appends zero rows") {
    val root = tmpDir("gold-rerun")
    val fct = Gold.fctPurchases(purchaseDf(
      Purchase(ts, "1", "CS01", 4.99, 1, false, 0.0, false, 0.0),
      Purchase(new Timestamp(ts.getTime + 1000), "2", "CS02", 5.99, 1, false, 0.0, false, 0.0)))
    assert(Gold.mergeIncremental(spark, fct, root).inserted === 2)
    assert(Gold.readFact(spark, root).count() === 2)
    assert(Gold.mergeIncremental(spark, fct, root).inserted === 0)
    assert(Gold.readFact(spark, root).count() === 2)
  }
  test("unique_key honesty: same-second id collision → first writer wins") {
    // transaction_id collides by construction in the reference
    // (abs(hash(second-resolution str)), producer.py:127,146)
    val root = tmpDir("gold-collide")
    val fct = Gold.fctPurchases(purchaseDf(
      Purchase(ts, "DUP", "CS01", 4.99, 1, false, 0.0, false, 0.0),
      Purchase(ts, "DUP", "CS02", 5.99, 2, false, 0.0, false, 0.0)))
    assert(Gold.mergeIncremental(spark, fct, root).inserted === 1)
    assert(facts(root) === Map("DUP" -> "CS01")) // deterministic tiebreak
  }
  // the watermark round-trips through the manifest's stats, rendered
  // and parsed in the session zone: a parse in any other zone shifts
  // it by the offset
  for ((zone, suffix) <- Seq("UTC" -> "",
      "America/Los_Angeles" -> " (session zone America/Los_Angeles)")) {
    test("watermark filter only admits rows newer than target max ingestion_timestamp" + suffix) {
      withConfs("spark.sql.session.timeZone" -> zone) {
        val root = tmpDir("gold-watermark")
        val older = Gold.fctPurchases(purchaseDf(
          Purchase(ts, "1", "CS01", 4.99, 1, false, 0.0, false, 0.0)))
        // "0" predates the stored watermark: filtered out, never stored
        val newer = Gold.fctPurchases(purchaseDf(
          Purchase(new Timestamp(ts.getTime - 5000), "0", "CS04", 7.99, 1, false, 0.0, false, 0.0),
          Purchase(ts, "1", "CS01", 4.99, 1, false, 0.0, false, 0.0),
          Purchase(new Timestamp(ts.getTime + 5000), "9", "CS03", 6.99, 1, false, 0.0, false, 0.0)))
        Gold.mergeIncremental(spark, older, root)
        assert(Gold.mergeIncremental(spark, newer, root).inserted === 1)
        assert(facts(root).keySet -- Set("1") === Set("9"))
      }
    }
    test("watermark is inclusive: a NEW id sharing the boundary stamp is admitted, not lost" + suffix) {
      withConfs("spark.sql.session.timeZone" -> zone) {
        // one micro-batch stamps all rows with the same current_timestamp;
        // a file source can deliver them across two triggers — the second
        // trigger's rows tie the watermark exactly and must still land
        // (the upsert, not the watermark, absorbs the stored boundary row)
        val root = tmpDir("gold-boundary")
        val older = Gold.fctPurchases(purchaseDf(
          Purchase(ts, "1", "CS01", 4.99, 1, false, 0.0, false, 0.0)))
        val straggler = Gold.fctPurchases(purchaseDf(
          Purchase(ts, "1", "CS01", 4.99, 1, false, 0.0, false, 0.0),
          Purchase(ts, "2", "CS02", 5.99, 1, false, 0.0, false, 0.0)))
        Gold.mergeIncremental(spark, older, root)
        assert(Gold.mergeIncremental(spark, straggler, root).inserted === 1)
        assert(facts(root).keySet -- Set("1") === Set("2"))
      }
    }
  }
  test("across runs the newer row for a stored id replaces it (upsert), inserting no key") {
    val root = tmpDir("gold-upsert")
    Gold.mergeIncremental(spark, Gold.fctPurchases(purchaseDf(
      Purchase(ts, "1", "CS01", 4.99, 1, false, 0.0, false, 0.0))), root)
    val later = Gold.fctPurchases(purchaseDf(
      Purchase(new Timestamp(ts.getTime + 1000), "1", "CS02", 5.99, 3, false, 0.0, false, 0.0)))
    assert(Gold.mergeIncremental(spark, later, root).inserted === 0)
    val rows = Gold.readFact(spark, root).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("transaction_id") === "1")
    assert(rows.head.getAs[String]("product_id") === "CS02")
    assert(rows.head.getAs[Double]("final_amount") === 5.99 * 3)
  }
}

class AnomalySpec extends SparkSpec {
  import graft.analytics.Anomaly

  test("daily sales + robust z: an injected 100× spike is flagged, normal days aren't") {
    import spark.implicits._
    val days = (1 to 30).map { d =>
      val sales = if (d == 15) 50000.0 else 480.0 + d % 5
      (java.sql.Date.valueOf(f"2025-06-$d%02d"), sales, if (d == 15) 400L else 24L)
    }
    val daily = days.toDF("purchase_date", "daily_total_sales", "daily_transaction_count")
    val scored = Anomaly.RobustZScorer().score(daily).collect()
    val flagged = scored.filter(_.getAs[Boolean]("is_anomaly"))
      .map(_.getAs[java.sql.Date]("purchase_date").toString)
    assert(flagged.toSeq === Seq("2025-06-15"))
    // contract columns present, score negative-oriented
    val spike = scored.find(_.getAs[java.sql.Date]("purchase_date").toString == "2025-06-15").get
    assert(spike.getAs[Double]("anomaly_score") < -3.5)
  }
  test("MAD=0 (over-half-constant feature) falls back to meanAD — spike still flagged") {
    import spark.implicits._
    // 30 identical days + one 10000× spike: median deviation is 0, so
    // the old nullif(mad,0) path nulled EVERY z and masked the outlier
    val days = (1 to 31).map { d =>
      val sales = if (d == 15) 1000000.0 else 100.0
      (java.sql.Date.valueOf(f"2025-07-$d%02d"), sales, 24L)
    }
    val daily = days.toDF("purchase_date", "daily_total_sales", "daily_transaction_count")
    val scored = Anomaly.RobustZScorer().score(daily).collect()
    val flagged = scored.filter(_.getAs[Boolean]("is_anomaly"))
      .map(_.getAs[java.sql.Date]("purchase_date").toString)
    assert(flagged.toSeq === Seq("2025-07-15"))
    // fully-constant feature (count) stays neutral: no day flagged on it
    assert(scored.count(_.getAs[Boolean]("is_anomaly")) === 1)
  }
}
