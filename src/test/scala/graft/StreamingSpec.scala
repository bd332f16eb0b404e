package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.generator.EventGenerator
import graft.ingest.Silver
import graft.streaming.{Restock, StreamingSilver}

class StreamingSilverSpec extends SparkSpec {
  import spark.implicits._

  test("memory stream → parse → partitioned parquet silver (AvailableNow), exactly-once rows") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 200)
    val stream = MemoryStream[String]
    stream.addData(gen.purchases.map(EventGenerator.toJson))
    val parsed = Silver.parsePurchases(stream.toDF().withColumnRenamed("value", "value"))
    val out = tmpDir("silver-out")
    val ckpt = tmpDir("silver-ckpt")
    val q = StreamingSilver.startSilverSink(parsed, out, ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val silver = spark.read.parquet(out)
    assert(silver.count() === 200)
    // partition layout: product_id=... directories (streaming_consumer.py:84)
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("product_id=")))
    // restart on same checkpoint re-processes nothing
    val q2 = StreamingSilver.startSilverSink(
      Silver.parsePurchases(stream.toDF()), out, ckpt, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 200)
  }

  test("streaming quarantine fan-out: poison messages land in the DLQ, valid rows in silver") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 100)
    val stream = MemoryStream[String]
    stream.addData(gen.purchases.map(EventGenerator.toJson)
      ++ Seq("garbage {{", """{"also":"wrong"}"""))
    val (valid, quarantined) = Silver.parseWithQuarantine(
      stream.toDF(), ingestionTs = lit(Timestamp.valueOf("2025-06-01 10:00:00")))
    val (silverOut, dlqOut) = (tmpDir("q-silver"), tmpDir("q-dlq"))
    val q1 = StreamingSilver.startSilverSink(valid, silverOut,
      tmpDir("q-silver-ckpt"), Trigger.AvailableNow())
    val q2 = StreamingSilver.startQuarantineSink(quarantined, dlqOut,
      tmpDir("q-dlq-ckpt"), Trigger.AvailableNow())
    q1.awaitTermination(); q2.awaitTermination()
    assert(spark.read.parquet(silverOut).count() === 100)
    val dlq = spark.read.parquet(dlqOut).collect()
    assert(dlq.length === 2)
    assert(dlq.map(_.getAs[String]("raw_payload")).toSet
      === Set("garbage {{", """{"also":"wrong"}"""))
  }

  test("multi-sink fan-out: two concurrent queries on one parsed stream (streaming_consumer.py:75-88)") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 150)
    val stream = MemoryStream[String]
    stream.addData(gen.purchases.map(EventGenerator.toJson))
    val parsed = Silver.parsePurchases(stream.toDF())
    val out = tmpDir("fanout-parquet")
    val ckpt = tmpDir("fanout-ckpt")
    val q1 = StreamingSilver.startSilverSink(parsed, out, ckpt,
      trigger = Trigger.AvailableNow())
    val q2 = parsed.writeStream.format("memory").queryName("fanout_mem")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(); q2.awaitTermination()
    assert(spark.read.parquet(out).count() === 150)
    assert(spark.table("fanout_mem").count() === 150)
  }

  test("complete-mode aggregation: running totals replace the sink each batch") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 120)
    val json = gen.purchases.map(EventGenerator.toJson)
    val stream = MemoryStream[String]
    val q = Silver.parsePurchases(stream.toDF())
      .groupBy(col("product_id"))
      .agg(sum(col("quantity")).as("total_qty"))
      .writeStream.format("memory").queryName("complete_totals")
      .outputMode("complete").start()
    stream.addData(json.take(60)); q.processAllAvailable()
    val mid = spark.table("complete_totals")
      .agg(sum("total_qty")).head().getLong(0)
    stream.addData(json.drop(60)); q.processAllAvailable()
    val fin = spark.table("complete_totals")
      .agg(sum("total_qty")).head().getLong(0)
    q.stop()
    assert(mid === gen.purchases.take(60).map(_.quantity.toLong).sum)
    assert(fin === gen.purchases.map(_.quantity.toLong).sum)
  }

  test("watermarked streaming dropDuplicates emits each transaction_id once") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 100)
    val json = gen.purchases.map(EventGenerator.toJson)
    val stream = MemoryStream[String]
    stream.addData(json ++ json.take(40)) // 40 duplicates
    val q = StreamingSilver.dedupedStream(
        Silver.parsePurchases(stream.toDF()))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("dedup_stream").count() === 100)
  }

  test("watermarked 1-day tumbling window equals the batch daily rollup") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 500,
      cfg = EventGenerator.Config(tickMillis = 600000)) // spread over ~3.5 days
    val stream = MemoryStream[String]
    val windowed = StreamingSilver.dailySalesWindowed(
      Silver.parsePurchases(stream.toDF(), ingestionTs = col("transaction_time")))
    val q = windowed.writeStream.format("memory").queryName("daily_windowed")
      .outputMode("append").start()
    // append-mode windows emit one batch AFTER the watermark passes
    // their end, so feed three chunks through separate micro-batches
    val json = gen.purchases.map(EventGenerator.toJson)
    json.grouped(200).foreach { chunk =>
      stream.addData(chunk); q.processAllAvailable()
    }
    q.stop()
    // append mode emits only CLOSED windows (watermark passed); batch twin:
    val batch = Silver.parsePurchases(
        gen.purchases.map(EventGenerator.toJson).toDF("value"),
        ingestionTs = col("transaction_time"))
      .withColumn("final_amount",
        col("price") * col("quantity") * (lit(1) - col("member_discount"))
          + col("supplement_price"))
      .groupBy(to_date(col("transaction_time")).as("purchase_date"))
      .agg(sum("final_amount").as("daily_total_sales"),
        count("transaction_id").as("daily_transaction_count"))
    val got = spark.table("daily_windowed")
      .select("purchase_date", "daily_total_sales", "daily_transaction_count")
      .collect().map(r => (r.getDate(0).toString, math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    val all = batch.collect().map(r =>
      (r.getDate(0).toString, math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    assert(got.subsetOf(all))
    assert(got.nonEmpty) // at least the watermark-closed days surfaced
  }
}

class SessionTrackerSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.SessionTracker
  import graft.streaming.SessionTracker.Event

  test("event-time timeout closes sessions exactly once as the watermark advances") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2025-06-01 00:00:00").getTime
    def ev(userId: Long, minute: Int, v: Double) =
      Event(userId, new java.sql.Timestamp(base + minute * 60000L), v)
    val stream = MemoryStream[Event]
    val events = stream.toDS().withWatermark("ts", "0 seconds").as[Event]
    val q = SessionTracker.track(events, gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    // session A: user 1 @ 0,10,20 ; watermark then jumps past 20+30
    stream.addData(ev(1, 0, 1.0), ev(1, 10, 2.0), ev(1, 20, 3.0))
    q.processAllAvailable()
    assert(spark.table("closed_sessions").count() === 0) // nothing closed yet
    stream.addData(ev(1, 120, 9.0), ev(2, 120, 5.0)) // advances watermark to 120min
    q.processAllAvailable()
    stream.addData(ev(2, 999, 0.0)) // push watermark past 120+30
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("closed_sessions")
      .as[SessionTracker.ClosedSession].collect()
      .map(s => (s.user_id, s.n_events, s.total_value)).toSet
    // user 1: session {0,10,20} closed by watermark timeout, then {120};
    // user 2: {120} closed by the 999-minute event
    assert(rows.contains((1L, 3, 6.0)))
    assert(rows.contains((1L, 1, 9.0)))
    assert(rows.contains((2L, 1, 5.0)))
  }

  test("watermark-legal stragglers: within-gap extends the session start, beyond-gap closes alone") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2025-06-01 00:00:00").getTime
    def ev(userId: Long, minute: Int, v: Double) =
      Event(userId, new java.sql.Timestamp(base + minute * 60000L), v)
    val stream = MemoryStream[Event]
    // 10h watermark delay: cross-batch out-of-order events stay legal
    val events = stream.toDS().withWatermark("ts", "10 hours").as[Event]
    val q = SessionTracker.track(events, gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("straggler_sessions")
      .outputMode("append").start()
    stream.addData(ev(1, 60, 1.0), ev(1, 70, 2.0)) // open session [60,70]
    q.processAllAvailable()
    // 50 min BEFORE the session start (> gap): its own session, closed
    // immediately — absorbing it would inflate [60,70] without moving
    // its start
    stream.addData(ev(1, 10, 7.0))
    q.processAllAvailable()
    // within gap of the start: extends the open session BACKWARDS
    stream.addData(ev(1, 45, 3.0))
    q.processAllAvailable()
    stream.addData(ev(2, 2000, 0.0)) // watermark past 70+30 → timeout
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val rows = spark.table("straggler_sessions")
      .as[SessionTracker.ClosedSession].collect()
      .map(s => (s.user_id, s.session_start.getTime,
        s.n_events, s.total_value)).toSet
    assert(rows.contains((1L, base + 10 * 60000L, 1, 7.0)), rows)   // straggler alone
    assert(rows.contains((1L, base + 45 * 60000L, 3, 6.0)), rows)   // start lowered to 45
  }

  test("cross-batch straggler chain emits ONE session, not one per batch") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2025-06-01 00:00:00").getTime
    def ev(userId: Long, minute: Int, v: Double) =
      Event(userId, new java.sql.Timestamp(base + minute * 60000L), v)
    val stream = MemoryStream[Event]
    val events = stream.toDS().withWatermark("ts", "10 hours").as[Event]
    val q = SessionTracker.track(events, gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("xbatch_sessions")
      .outputMode("append").start()
    stream.addData(ev(1, 120, 1.0)) // open session [120]
    q.processAllAvailable()
    // straggler chain split ACROSS batches: 50 then 55 — each legal
    // (watermark lags 10h), both > gap before 120, within gap of each
    // other. The gap rule defines ONE session [50,55]; an eager
    // batch-end close would emit (50) and (55) separately.
    stream.addData(ev(1, 50, 2.0))
    q.processAllAvailable()
    stream.addData(ev(1, 55, 3.0))
    q.processAllAvailable()
    stream.addData(ev(2, 2000, 0.0)) // watermark seals everything
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val rows = spark.table("xbatch_sessions")
      .as[SessionTracker.ClosedSession].collect()
      .filter(_.user_id == 1L)
      .map(s => (s.session_start.getTime, s.session_end.getTime,
        s.n_events, s.total_value)).toSet
    assert(rows === Set(
      (base + 50 * 60000L, base + 55 * 60000L, 2, 5.0),
      (base + 120 * 60000L, base + 120 * 60000L, 1, 1.0)), rows)
  }

  test("same-batch straggler + backward extension merge into one session") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2025-06-01 00:00:00").getTime
    def ev(userId: Long, minute: Int, v: Double) =
      Event(userId, new java.sql.Timestamp(base + minute * 60000L), v)
    val stream = MemoryStream[Event]
    val events = stream.toDS().withWatermark("ts", "10 hours").as[Event]
    val q = SessionTracker.track(events, gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("merge_sessions")
      .outputMode("append").start()
    stream.addData(ev(1, 60, 1.0)) // open session [60,60]
    q.processAllAvailable()
    // one batch delivers t=25 (early vs start 60: 25 < 60-30) AND
    // t=35 (extends the session back to 35). 35-25 <= gap, so the gap
    // rule defines a single session [25,60] — the early chain must
    // merge at batch end, not close as its own spurious session.
    stream.addData(ev(1, 25, 7.0), ev(1, 35, 3.0))
    q.processAllAvailable()
    stream.addData(ev(2, 2000, 0.0)) // watermark past 60+30 → timeout
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val rows = spark.table("merge_sessions")
      .as[SessionTracker.ClosedSession].collect()
      .filter(_.user_id == 1L)
      .map(s => (s.session_start.getTime, s.session_end.getTime,
        s.n_events, s.total_value)).toSet
    assert(rows === Set((base + 25 * 60000L, base + 60 * 60000L, 3, 11.0)),
      rows)
  }
}

class StreamStreamJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.model.InventoryEvent

  test("watermarked interval join of purchase and restock streams == batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // enough volume that popular products cross the restock threshold
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 2500,
      cfg = EventGenerator.Config(tickMillis = 30000)) // spread over ~21h
    val pStream = MemoryStream[String]
    val rStream = MemoryStream[InventoryEvent]
    val joined = StreamingSilver.purchasesWithRecentRestocks(
      Silver.parsePurchases(pStream.toDF(),
        ingestionTs = col("transaction_time")),
      rStream.toDS().toDF())
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    pStream.addData(gen.purchases.map(EventGenerator.toJson))
    rStream.addData(gen.inventoryEvents)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join")
      .select("transaction_id", "product_id", "restock_time")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2).getTime)).toSet
    // batch twin over the same data
    val expected = (for {
      p <- gen.purchases
      r <- gen.inventoryEvents
      if r.product_id == p.product_id
      if r.event_time.getTime <= p.transaction_time.getTime
      if r.event_time.getTime >= p.transaction_time.getTime - 600000L
    } yield (p.transaction_id, p.product_id, r.event_time.getTime)).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }
}

class StreamingGoldSpec extends SparkSpec {
  import spark.implicits._
  import graft.streaming.StreamingGold

  test("transactional fact: batch replay converges via snapshot MERGE") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 300)
    val json = gen.purchases.map(EventGenerator.toJson)
    val stream = MemoryStream[String]
    val root = tmpDir("stream-fact-tx") + "/fct"
    def start(ckpt: String) = StreamingGold.startTransactionalFact(
      Silver.parsePurchases(stream.toDF(),
        ingestionTs = col("transaction_time")),
      root, ckpt, Trigger.AvailableNow())
    // data before start: AvailableNow fixes its end offset when the
    // query starts, so data added after it may never be read
    stream.addData(json.take(200) ++ json.slice(100, 130)) // in-batch dups
    val q = start(tmpDir("tx-ckpt1"))
    q.awaitTermination()
    val v1 = graft.gold.AtomicTable.latestVersion(root).get
    // fresh checkpoint = full REPLAY of everything plus the tail —
    // at-least-once delivery; merge must converge, not duplicate
    stream.addData(json)
    val q2 = start(tmpDir("tx-ckpt2"))
    q2.awaitTermination()
    val fct = graft.gold.AtomicTable.read(spark, root)
    assert(fct.count() === fct.select("transaction_id").distinct().count())
    assert(fct.count() === 300)
    assert(graft.gold.AtomicTable.latestVersion(root).get > v1)
  }

  test("transactional fact: restart on the same checkpoint continues; a lost commit replays its batch once") {
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 300)
    val files = gen.purchases.map(EventGenerator.toJson).grouped(50).toIndexedSeq
    val base = tmpDir("stream-fact-restart")
    val in = Files.createDirectories(Paths.get(base, "in"))
    val root = s"$base/fct"
    val ckpt = s"$base/ckpt"
    def drop(i: Int): Unit = {
      // hidden while written: the file source skips dot-files
      val tmp = in.resolve(s".f$i.tmp")
      Files.write(tmp, files(i).mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, in.resolve(s"f$i.json"), StandardCopyOption.ATOMIC_MOVE): Unit
    }
    // one run on the checkpoint: the batch ids that read input
    def run(): Seq[Long] = {
      val q = StreamingGold.startTransactionalFact(
        Silver.parsePurchases(StreamingSilver.Sources.fileJsonLines(spark, in.toString)),
        root, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    }
    def commits = new java.io.File(ckpt, "commits").list()
      .filterNot(_.startsWith(".")).map(_.toLong).sorted.toSeq
    def holdsOnce(n: Int): Unit = {
      val ids = graft.gold.AtomicTable.read(spark, root)
        .select("transaction_id").as[String].collect().toSeq
      assert(ids.size === ids.distinct.size)
      assert(ids.toSet === gen.purchases.take(n * 50).map(_.transaction_id).toSet)
    }

    (0 to 1).foreach(drop)
    assert(run() === Seq(0L))
    holdsOnce(2)
    // stop, more files, restart on the same checkpoint: ids continue
    (2 to 3).foreach(drop)
    assert(run() === Seq(1L))
    assert(commits === Seq(0L, 1L))
    holdsOnce(4)
    // a crash between the offset and the commit log: batch 1 is
    // planned but not committed, so the restart replays it first
    Seq("1", ".1.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete(): Unit)
    assert(commits === Seq(0L))
    (4 to 5).foreach(drop)
    assert(run() === Seq(1L, 2L))
    assert(commits === Seq(0L, 1L, 2L))
    holdsOnce(6)
  }

  test("transactional fact: disjoint files append, a replayed file and a replayed batch merge; every event once") {
    import graft.gold.AtomicTable
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 200)
    val files = gen.purchases.map(EventGenerator.toJson).grouped(50).toIndexedSeq
    val base = tmpDir("stream-fact-append")
    val in = Files.createDirectories(Paths.get(base, "in"))
    val root = s"$base/fct"
    val ckpt = s"$base/ckpt"
    def drop(name: String, i: Int): Unit = {
      val tmp = in.resolve(s".$name.tmp")
      Files.write(tmp, files(i).mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, in.resolve(s"$name.json"), StandardCopyOption.ATOMIC_MOVE): Unit
    }
    // every run is a restart on the same checkpoint
    def run(): Unit = StreamingGold.startTransactionalFact(
      Silver.parsePurchases(StreamingSilver.Sources.fileJsonLines(spark, in.toString)),
      root, ckpt, Trigger.AvailableNow()).awaitTermination()
    def holdsOnce(n: Int): Unit = {
      val ids = AtomicTable.read(spark, root).select("transaction_id").as[String].collect().toSeq
      assert(ids.size === ids.distinct.size)
      assert(ids.toSet === gen.purchases.take(n * 50).map(_.transaction_id).toSet)
    }
    // the head keeps every file of the version before it: an append
    def appended: Boolean = {
      val v = AtomicTable.latestVersion(root).get
      AtomicTable.files(root, v - 1).forall(AtomicTable.files(root, v).contains)
    }
    drop("f0", 0)
    run()
    holdsOnce(1)
    drop("f1", 1)
    run()
    holdsOnce(2)
    assert(appended)
    // the same events again under another name
    drop("dup-f0", 0)
    run()
    holdsOnce(2)
    assert(!appended)
    drop("f2", 2)
    run()
    holdsOnce(3)
    assert(appended)
    // a lost commit-log entry: the restart replays that batch first
    val last = new java.io.File(ckpt, "commits").list().filterNot(_.startsWith("."))
      .map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete(): Unit)
    drop("f3", 3)
    run()
    holdsOnce(4)
  }

  test("transactional fact: steady file batches compile no new code after the second") {
    // the batch's current_timestamp() and the Gold watermark change on
    // every batch; bound by reference, they leave the generated code
    // the same, so the codegen cache serves every batch after the
    // first with a watermark
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 300)
    val files = gen.purchases.map(EventGenerator.toJson).grouped(50).toIndexedSeq
    val base = tmpDir("stream-fact-codegen")
    val in = Files.createDirectories(Paths.get(base, "in"))
    val root = s"$base/fct"
    val q = StreamingGold.startTransactionalFact(
      Silver.parsePurchases(StreamingSilver.Sources.fileJsonLines(spark, in.toString)),
      root, s"$base/ckpt", Trigger.ProcessingTime(0L))
    val compiles = try files.indices.map { i =>
      val tmp = in.resolve(s".f$i.tmp")
      Files.write(tmp, files(i).mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, in.resolve(s"f$i.json"), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      RunWitness.janinoCompiles()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) === files.size)
    // compiles per batch, from the third on
    val steady = compiles.sliding(2).map(p => p(1) - p(0)).toSeq.drop(1)
    assert(steady.size >= 4)
    assert(steady.forall(_ == 0), s"Janino compiles per batch: $steady")
    val ids = graft.gold.AtomicTable.read(spark, root).select("transaction_id").as[String].collect()
    assert(ids.length === ids.distinct.length)
    assert(ids.toSet === gen.purchases.map(_.transaction_id).toSet)
  }
}

class RestockSpec extends SparkSpec {
  import spark.implicits._

  private def salesOf(gen: EventGenerator.Output) =
    gen.purchases.map(p =>
      Restock.Sale(p.product_id, p.transaction_time, p.quantity))

  test("batch state machine replicates the generator's in-process restocks exactly") {
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 2000)
    val got = Restock.restockBatch(salesOf(gen).toDS(), initialLevel = 75)
      .collect().toSet
    assert(got === gen.inventoryEvents.toSet)
  }

  test("secondary sort: one hot key with 100k shuffled events ≡ linear fold") {
    // the shape that OOM'd the old toSeq path at scale: a single
    // product whose entire history lands in one task. The secondary-
    // sorted fold streams it; correctness checked against a plain
    // in-memory fold over the time-ordered events.
    val n = 100000
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ordered = (0 until n).map(i =>
      Restock.Sale("HOT", new java.sql.Timestamp(t0 + i * 1000L), 1 + i % 3))
    val shuffled = new scala.util.Random(3).shuffle(ordered)
    val got = Restock.restockBatch(shuffled.toDS().repartition(8), initialLevel = 75)
      .collect().sortBy(_.event_time.getTime)
    var level = 75
    val want = ordered.flatMap { s =>
      val after = level - s.quantity
      if (after <= Restock.MinInventory) {
        level = after + Restock.RestockAmount
        Some(graft.model.InventoryEvent(s.event_time, s.product_id, after,
          Restock.RestockAmount, after + Restock.RestockAmount))
      } else { level = after; None }
    }
    assert(got.length === want.length)
    assert(got.toSeq === want)
  }

  test("streaming flatMapGroupsWithState carries level across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val gen = EventGenerator.generate(EventGenerator.defaultProducts, 2000)
    val sales = salesOf(gen)
    val (batch1, batch2) = sales.splitAt(1000)
    val stream = MemoryStream[Restock.Sale]
    val q = Restock.restockStream(stream.toDS(), initialLevel = 75)
      .writeStream.format("memory").queryName("restocks")
      .outputMode("append").start()
    stream.addData(batch1); q.processAllAvailable()
    stream.addData(batch2); q.processAllAvailable()
    q.stop()
    val got = spark.table("restocks").as[graft.model.InventoryEvent]
      .collect().toSet
    assert(got === gen.inventoryEvents.toSet)
  }
}

class EndToEndPipelineSpec extends SparkSpec {
  test("generate → silver → fct (incremental) → daily → anomaly; re-run appends zero") {
    val lake = tmpDir("lake")
    val cfg = graft.pipeline.Pipeline.Config(lakeDir = lake, nEvents = 400)
    val r1 = graft.pipeline.Pipeline.run(spark, cfg)
    assert(r1.silverRows === 400)
    assert(r1.quarantinedRows === 0)
    assert(r1.factRowsAppended > 0)
    assert(r1.daily.count() > 0)
    // idempotent re-run: the watermark + upsert insert no new key
    val r2 = graft.pipeline.Pipeline.run(spark, cfg)
    assert(r2.factRowsAppended === 0)
    // fact row count = distinct transaction ids (honest unique_key)
    val fct = graft.gold.Gold.readFact(spark, s"$lake/gold/fct_purchases")
    assert(fct.count() === fct.select("transaction_id").distinct().count())
  }

  test("fact step killed after its staged write, before its commit: the re-run shows no orphan row") {
    import graft.gold.Gold
    import graft.pipeline.Pipeline
    val lake = tmpDir("lake-orphan")
    val factPath = s"$lake/gold/fct_purchases"
    assert(Pipeline.run(spark, Pipeline.Config(lakeDir = lake, nEvents = 200))
      .factRowsAppended === 200)
    // what a mergeBatch killed between its stage write and its manifest
    // publish leaves: a partitioned staged dir that no manifest names,
    // here holding every stored key again (amount -1) plus a key the
    // table never had
    val stored = Gold.readFact(spark, factPath)
    stored.withColumn("final_amount", lit(-1.0))
      .unionByName(stored.limit(1).withColumn("transaction_id", lit("orphan-only")))
      .write.partitionBy("purchase_date")
      .parquet(s"$factPath/_staged/${java.util.UUID.randomUUID()}")
    assert(new java.io.File(factPath, "_staged").list().length === 2)
    // the retried run: the first 200 events again plus 50 new ones
    val r = Pipeline.run(spark, Pipeline.Config(lakeDir = lake, nEvents = 250))
    assert(r.factRowsAppended === 50)
    val fct = Gold.readFact(spark, factPath)
    assert(fct.count() === 250)
    assert(fct.select("transaction_id").distinct().count() === 250)
    assert(fct.filter(col("final_amount") < 0 ||
      col("transaction_id") === "orphan-only").count() === 0)
  }

  test("malformed envelope in the feed → quarantine DLQ, run completes (r3 VERDICT ask #7)") {
    val lake = tmpDir("lake-dlq")
    val garbage = Seq("""{"oops": not even json""",
      """{"customer_id":"C1","quantity":1}""") // parseable, key missing
    val cfg = graft.pipeline.Pipeline.Config(
      lakeDir = lake, nEvents = 50, rawExtra = garbage)
    val r = graft.pipeline.Pipeline.run(spark, cfg)
    // the corrupt messages do NOT fail the step, do NOT reach Silver,
    // and DO land in the DLQ with their raw payload + reason
    assert(r.silverRows === 50)
    assert(r.quarantinedRows === 2)
    assert(r.factRowsAppended > 0)
    val dlq = graft.ingest.Silver.readQuarantine(spark, s"$lake/silver/quarantine")
    assert(dlq.count() === 2)
    val rows = dlq.collect().map(x =>
      (x.getAs[String]("raw_payload"), x.getAs[String]("reason"))).toSet
    assert(rows.map(_._1) === garbage.toSet)
    assert(rows.forall(_._2 === "unparseable_or_missing_key"))
    // silver stays clean: no null transaction ids slipped through
    val silver = spark.read.parquet(s"$lake/silver/purchases")
    assert(silver.filter(silver("transaction_id").isNull).count() === 0)
  }

  test("every envelope quarantined → run completes empty, DLQ holds them all (no crash)") {
    val lake = tmpDir("lake-all-dlq")
    val garbage = Seq("""not json""", """{"no":"key"}""", """broken{""")
    val cfg = graft.pipeline.Pipeline.Config(
      lakeDir = lake, nEvents = 0, rawExtra = garbage)
    val r = graft.pipeline.Pipeline.run(spark, cfg)
    assert(r.silverRows === 0)
    assert(r.quarantinedRows === 3)
    assert(r.factRowsAppended === 0)
    assert(r.daily.count() === 0)
    assert(r.anomalies.count() === 0)
    val dlq = graft.ingest.Silver.readQuarantine(spark, s"$lake/silver/quarantine")
    assert(dlq.count() === 3)
    // quarantined_at never null — unparseable payloads get the
    // wall-clock fallback stamp (the DLQ's triage/retention key)
    assert(dlq.filter(dlq("quarantined_at").isNull).count() === 0)
  }

  test("healthy run: empty quarantine dir stays readable via readQuarantine") {
    val lake = tmpDir("lake-clean-dlq")
    val cfg = graft.pipeline.Pipeline.Config(lakeDir = lake, nEvents = 10)
    val r = graft.pipeline.Pipeline.run(spark, cfg)
    assert(r.quarantinedRows === 0)
    // the unconditional DLQ write leaves only _SUCCESS (no footers);
    // the schema-explicit reader must still see an empty, well-typed
    // frame where inference would throw UNABLE_TO_INFER_SCHEMA
    val dlq = graft.ingest.Silver.readQuarantine(spark, s"$lake/silver/quarantine")
    assert(dlq.count() === 0)
    assert(dlq.schema === graft.ingest.Silver.quarantineSchema)
  }
}
