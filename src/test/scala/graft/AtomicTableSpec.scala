package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.gold.{AtomicTable, Gold}

/** ACID semantics of the versioned-manifest table format: atomic
  * visibility, optimistic concurrent writers (no lost update),
  * MERGE idempotence/upsert, and time travel. Mirrors the behavioral
  * contract of the reference's Iceberg Gold layer
  * (`pipeline/spark/delta_to_iceberg.py:43-52`).
  */
class AtomicTableSpec extends SparkSpec {
  import spark.implicits._

  test("append + read roundtrip; versions increment") {
    val root = tmpDir("atomic-rt")
    val v0 = AtomicTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    assert(v0 === 0)
    val v1 = AtomicTable.append(spark, Seq((3L, "c")).toDF("k", "v"), root)
    assert(v1 === 1)
    val got = AtomicTable.read(spark, root).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("concurrent appends: every writer's rows survive (no lost update)") {
    val root = tmpDir("atomic-race")
    val writers = 6
    val rowsPer = 5
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val futures = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          latch.await() // maximize race overlap
          val df = (0 until rowsPer).map(i => (w.toLong * 100 + i, s"w$w")).toDF("k", "v")
          AtomicTable.append(spark, df, root)
        }
      })
    }
    latch.countDown()
    val versions = futures.map(_.get())
    pool.shutdown()
    // every commit landed under a distinct version
    assert(versions.toSet.size === writers, versions)
    val got = AtomicTable.read(spark, root)
    assert(got.count() === writers.toLong * rowsPer)
    // all writers represented
    assert(got.select("v").distinct().count() === writers)
  }

  // Racing copy-on-write writers: each loser of the publish race must
  // recompute its rewrite from the winner's snapshot, or a stale
  // rewrite drops the winner's rows (the stream-vs-backfill rule in
  // StreamingGold's scaladoc). Disjoint keys, overlapping partitions.
  Seq[(String, (org.apache.spark.sql.DataFrame, String) => Int)](
    "mergePartitioned" -> ((df, root) =>
      AtomicTable.mergePartitioned(spark, df, root, "k", "p")),
    "replaceGroups" -> ((df, root) =>
      AtomicTable.replaceGroups(spark, df, root, "k", df.select("k"))),
    "merge" -> ((df, root) => AtomicTable.merge(spark, df, root, "k"))
  ).foreach { case (name, write) =>
    test(s"racing $name writers: every key once, versions without a gap") {
      val root = tmpDir(s"atomic-race-$name")
      val writers = 4
      def part(k: Long) = s"d${k % 2}"
      val base = (0L until writers).map(k => (k, "base", part(k))).toDF("k", "v", "p")
      if (name == "mergePartitioned") AtomicTable.appendPartitioned(spark, base, root, "p")
      else AtomicTable.append(spark, base, root)
      // writer w updates base key w and inserts three keys of its own
      val keysOf = (0 until writers).map(w =>
        w -> (w.toLong +: (0L until 3L).map(i => 100L * (w + 1) + i))).toMap
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      val latch = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            latch.await()
            write(keysOf(w).map(k => (k, s"w$w", part(k))).toDF("k", "v", "p"), root)
          }
        })
      }
      latch.countDown()
      val versions = futures.map(_.get())
      pool.shutdown()
      assert(versions.sorted === (1 to writers), versions)
      assert(AtomicTable.latestVersion(root) === Some(writers))
      val manifests = new java.io.File(root, "_commits").list()
        .filter(_.endsWith(".manifest")).toSeq.sorted
      assert(manifests === (0 to writers).map(v => f"v$v%05d.manifest"))
      val got = AtomicTable.read(spark, root).select("k", "v").as[(Long, String)].collect()
      val want = keysOf.toSeq.flatMap { case (w, ks) => ks.map(_ -> s"w$w") }.toMap
      assert(got.length === want.size, got.toSeq.sorted)
      assert(got.toMap === want)
    }
  }

  test("merge: upsert replaces matched keys, inserts new, idempotent re-run") {
    val root = tmpDir("atomic-merge")
    AtomicTable.append(spark,
      Seq((1L, "old", 10.0), (2L, "keep", 20.0)).toDF("k", "name", "amt"), root)
    val batch = Seq((1L, "new", 11.0), (3L, "ins", 30.0)).toDF("k", "name", "amt")
    val v1 = AtomicTable.merge(spark, batch, root, "k")
    val after = AtomicTable.read(spark, root)
      .as[(Long, String, Double)].collect().toSet
    assert(after === Set((1L, "new", 11.0), (2L, "keep", 20.0), (3L, "ins", 30.0)))
    // idempotent: same merge again -> new version, same content
    val v2 = AtomicTable.merge(spark, batch, root, "k")
    assert(v2 === v1 + 1)
    val again = AtomicTable.read(spark, root)
      .as[(Long, String, Double)].collect().toSet
    assert(again === after)
  }

  test("time travel: earlier versions stay readable and unchanged") {
    val root = tmpDir("atomic-tt")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    AtomicTable.merge(spark, Seq((1L, "b")).toDF("k", "v"), root, "k")
    assert(AtomicTable.readVersion(spark, root, 0)
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    assert(AtomicTable.read(spark, root)
      .as[(Long, String)].collect().toSet === Set((1L, "b")))
  }

  test("readers never see a half-written commit (manifest lists only closed files)") {
    val root = tmpDir("atomic-vis")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    // staged-but-uncommitted data is invisible: stage by writing through
    // a second append whose manifest we then remove
    val v1 = AtomicTable.append(spark, Seq((2L, "b")).toDF("k", "v"), root)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "_commits", f"v$v1%05d.manifest"))
    assert(AtomicTable.read(spark, root)
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
  }

  test("partition-pruned merge: only affected partitions rewrite, others carry over") {
    val root = tmpDir("atomic-part")
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val d3 = java.sql.Date.valueOf("2024-01-03")
    def rows(t: (Long, String, java.sql.Date)*) = t.toSeq.toDF("k", "v", "pd")
    AtomicTable.appendPartitioned(spark,
      rows((1L, "a", d1), (2L, "b", d2), (3L, "c", d2)), root, "pd")
    val v0Files = AtomicTable.files(root, 0)
    // merge touches ONLY d2 (update k=2) and d3 (insert k=4)
    val v1 = AtomicTable.mergePartitioned(spark,
      rows((2L, "B", d2), (4L, "d", d3)), root, "k", "pd")
    val v1Files = AtomicTable.files(root, v1)
    // d1's file is the SAME path in both manifests — zero rewrite I/O
    val d1Files0 = v0Files.filter(_.contains("pd=2024-01-01"))
    val d1Files1 = v1Files.filter(_.contains("pd=2024-01-01"))
    assert(d1Files0.nonEmpty && d1Files0.toSet === d1Files1.toSet)
    // d2's files are NEW paths (rewritten)
    assert(v0Files.filter(_.contains("pd=2024-01-02")).toSet
      .intersect(v1Files.filter(_.contains("pd=2024-01-02")).toSet).isEmpty)
    // content: update applied, insert landed, untouched rows intact
    val got = AtomicTable.read(spark, root)
      .as[(Long, String, java.sql.Date)].collect().toSet
    assert(got === Set((1L, "a", d1), (2L, "B", d2), (3L, "c", d2), (4L, "d", d3)))
    // idempotent replay
    AtomicTable.mergePartitioned(spark, rows((2L, "B", d2), (4L, "d", d3)),
      root, "k", "pd")
    assert(AtomicTable.read(spark, root)
      .as[(Long, String, java.sql.Date)].collect().toSet === got)
    // vacuum understands partitioned entries: live snapshot survives
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(AtomicTable.read(spark, root)
      .as[(Long, String, java.sql.Date)].collect().toSet === got)
  }

  test("partitionLocalKeys merge: same result, untouched partitions carry over") {
    // the declared fast path (q93's delta merge): key embeds the
    // partition value, so the prior-snapshot key scan is skipped and
    // matched partitions are the source's partitions by construction —
    // output must be IDENTICAL to the scanning path, and untouched
    // partitions must still carry over by path
    val root = tmpDir("atomic-plk")
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def rows(t: (String, String, java.sql.Date)*) = t.toSeq.toDF("k", "v", "pd")
    // k = "<pd>|<name>": partition-local by construction
    AtomicTable.appendPartitioned(spark,
      rows(("2024-01-01|x", "a", d1), ("2024-01-02|x", "b", d2),
        ("2024-01-02|y", "c", d2)), root, "pd")
    val v0Files = AtomicTable.files(root, 0)
    val v1 = AtomicTable.mergePartitioned(spark,
      rows(("2024-01-02|x", "B", d2)), root, "k", "pd")
    val v1Files = AtomicTable.files(root, v1)
    assert(v0Files.filter(_.contains("pd=2024-01-01")).toSet ===
      v1Files.filter(_.contains("pd=2024-01-01")).toSet)
    val got = AtomicTable.read(spark, root)
      .as[(String, String, java.sql.Date)].collect().toSet
    assert(got === Set(("2024-01-01|x", "a", d1), ("2024-01-02|x", "B", d2),
      ("2024-01-02|y", "c", d2)))
  }

  test("partitionLocalKeys downgrades to the scan for discovery-unstable values") {
    // end-to-end: leading-zero string partitions with pLK declared.
    // A prior partial rewrite re-types pd=00123 via discovery and
    // restages it as pd=123; without the downgrade, the next pLK
    // merge's affected-set ({"00123"}) would miss that dir and the
    // old key row would survive as a duplicate.
    val root = tmpDir("atomic-plk-zeros")
    def rows(t: (String, String, String)*) = t.toSeq.toDF("k", "v", "pd")
    AtomicTable.appendPartitioned(spark,
      rows(("00123|x", "a", "00123"), ("00777|x", "b", "00777")), root, "pd")
    // two pLK merges against the same logical partition; the guard
    // must route both through the correct path regardless of how an
    // intermediate rewrite canonicalized the dir value
    AtomicTable.mergePartitioned(spark, rows(("00123|x", "B", "00123")),
      root, "k", "pd")
    AtomicTable.mergePartitioned(spark, rows(("00123|x", "C", "00123")),
      root, "k", "pd")
    val got = AtomicTable.read(spark, root)
      .select(col("k"), col("v")).as[(String, String)].collect().toSeq
    // exactly one row per key — no stale duplicate from a mispruned dir
    assert(got.groupBy(_._1).forall(_._2.size == 1), got.toString)
    assert(got.toSet.contains(("00123|x", "C")), got.toString)
  }

  test("partition-pruned merge: a key MOVING partitions does not duplicate") {
    val root = tmpDir("atomic-move")
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    def rows(t: (Long, String, java.sql.Date)*) = t.toSeq.toDF("k", "v", "pd")
    AtomicTable.appendPartitioned(spark,
      rows((1L, "a", d1), (2L, "b", d1)), root, "pd")
    // correction batch re-homes k=1 into d2: its OLD partition (d1)
    // must rewrite too or the stale row would survive
    AtomicTable.mergePartitioned(spark, rows((1L, "A", d2)), root, "k", "pd")
    val got = AtomicTable.read(spark, root)
      .as[(Long, String, java.sql.Date)].collect().toSet
    assert(got === Set((1L, "A", d2), (2L, "b", d1)))
  }

  test("empty writes never wedge a table: no empty first commit, reads stay sane") {
    val root = tmpDir("atomic-empty")
    val empty = Seq.empty[(Long, String, java.sql.Date)].toDF("k", "v", "pd")
    // empty first merge → nothing committed, no table created
    assert(AtomicTable.mergePartitioned(spark, empty, root, "k", "pd") === -1)
    assert(AtomicTable.latestVersion(root) === None)
    // mergeIncremental with an empty batch on a nonexistent table:
    // no wedge, and the NEXT real batch creates the table normally
    val facts = Seq.empty[(String, Long, Double, java.sql.Date, java.sql.Timestamp)]
      .toDF("transaction_id", "product_id", "final_amount", "purchase_date",
        "ingestion_timestamp")
    assert(Gold.mergeIncremental(spark, facts, root).version === -1)
    val real = Seq(("t1", 7L, 9.99, java.sql.Date.valueOf("2024-01-01"),
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("transaction_id", "product_id", "final_amount", "purchase_date",
        "ingestion_timestamp")
    assert(Gold.mergeIncremental(spark, real, root).version === 0)
    assert(AtomicTable.read(spark, root).count() === 1)
  }

  test("schema evolution: a later commit adds a column, old rows read as NULL") {
    val root = tmpDir("atomic-evolve")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    // evolved writer: new nullable column rides in a new commit
    AtomicTable.append(spark,
      Seq((2L, "b", "extra")).toDF("k", "v", "tag"), root)
    val got = AtomicTable.read(spark, root)
      .select("k", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got === Set((1L, "a", None), (2L, "b", Some("extra"))))
    // MERGE across the schema boundary also works (upsert an old row
    // with the evolved schema)
    AtomicTable.merge(spark,
      Seq((1L, "A", "late")).toDF("k", "v", "tag"), root, "k")
    val after = AtomicTable.read(spark, root)
      .select("k", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(after === Set((1L, "A", Some("late")), (2L, "b", Some("extra"))))
  }

  test("zone maps: scanWhere skips files provably outside the range") {
    val root = tmpDir("atomic-zone")
    // three appends with DISJOINT key ranges; coalesce(1) → one file
    // per commit, so file-level stats are range-separating
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      AtomicTable.append(spark,
        r.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), root,
        statsCol = Some("k"))
    }
    val all = AtomicTable.read(spark, root)
    assert(all.inputFiles.length === 3)
    val scan = AtomicTable.scanWhere(spark, root, "k", "120", "180")
    // pruning: only the middle file opens
    assert(scan.inputFiles.length === 1, scan.inputFiles.mkString(","))
    // exactness: residual filter applies within the surviving file
    assert(scan.count() === 61)
    assert(scan.agg(min(col("k")), max(col("k"))).head() ===
      org.apache.spark.sql.Row(120L, 180L))
    // conservative fallback: a column without stats reads everything
    assert(AtomicTable.scanWhere(spark, root, "v", "a", "z")
      .inputFiles.length === 3)
    // total prune still yields a TYPED empty frame
    val none = AtomicTable.scanWhere(spark, root, "k", "1000", "2000")
    assert(none.count() === 0)
    assert(none.select("k", "v").columns.toSeq === Seq("k", "v"))
  }

  test("zone maps on a STRING column use lexicographic ordering end to end") {
    val root = tmpDir("atomic-zone-str")
    // numeric-LOOKING strings: lexicographic min/max of this file is
    // ("100", "9") — a numeric comparator would wrongly prune it for
    // lo="50"
    AtomicTable.append(spark,
      Seq(("9", 1L), ("100", 2L)).toDF("s", "n").coalesce(1), root,
      statsCol = Some("s"))
    val got = AtomicTable.scanWhere(spark, root, "s", "50", "99")
      .as[(String, Long)].collect().toSet
    assert(got === Set(("9", 1L))) // "50" <= "9" <= "99" lexicographically
  }

  test("compact: rewrites many small files into few, same rows, time travel intact") {
    val root = tmpDir("atomic-compact")
    // 5 appends × multi-partition writes → many tiny files
    (0 until 5).foreach { i =>
      AtomicTable.append(spark,
        Seq((i.toLong, s"v$i"), (i + 100L, s"w$i")).toDF("k", "v")
          .repartition(4), root)
    }
    val vHead = AtomicTable.latestVersion(root).get
    val before = AtomicTable.files(root, vHead).length
    val rows = AtomicTable.read(spark, root).as[(Long, String)].collect().toSet
    val vNew = AtomicTable.compact(spark, root)
    assert(vNew === vHead + 1)
    val after = AtomicTable.files(root, vNew).length
    assert(after < before && after >= 1, s"$before -> $after")
    assert(AtomicTable.read(spark, root).as[(Long, String)].collect().toSet === rows)
    // pre-compaction snapshot still time-travels
    assert(AtomicTable.readVersion(spark, root, vHead)
      .as[(Long, String)].collect().toSet === rows)
    // already-compact table: nothing to do, head unmoved
    assert(AtomicTable.compact(spark, root) === -1)
    assert(AtomicTable.latestVersion(root) === Some(vNew))
    // vacuum reaps the pre-compaction files; the compacted head survives
    val (droppedManifests, droppedFiles) =
      AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(droppedManifests === vNew && droppedFiles > 0)
    assert(AtomicTable.read(spark, root).as[(Long, String)].collect().toSet === rows)
  }

  test("compact: partitioned table ends with one file per partition dir") {
    val root = tmpDir("atomic-compact-part")
    (0 until 3).foreach { i =>
      AtomicTable.appendPartitioned(spark,
        Seq((i.toLong, "p1"), (i + 10L, "p2")).toDF("k", "part"),
        root, "part")
    }
    val rows = AtomicTable.read(spark, root).as[(Long, String)].collect().toSet
    val v = AtomicTable.compact(spark, root, partitionCol = Some("part"))
    assert(v > 0)
    val entries = AtomicTable.files(root, v)
    // one file per partition value, partition tag preserved
    assert(entries.length === 2, entries.mkString("\n"))
    assert(entries.forall(_.contains("\tp=")), entries.mkString("\n"))
    val got = AtomicTable.read(spark, root)
    assert(got.columns.contains("part"))
    assert(got.as[(Long, String)].collect().toSet === rows)
  }

  test("vacuum: expires old snapshots, keeps the live one intact and readable") {
    val root = tmpDir("atomic-vac")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    AtomicTable.merge(spark, Seq((1L, "b"), (2L, "c")).toDF("k", "v"), root, "k")
    AtomicTable.merge(spark, Seq((2L, "d")).toDF("k", "v"), root, "k")
    val before = AtomicTable.read(spark, root).as[(Long, String)].collect().toSet
    val (droppedManifests, droppedFiles) = AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(droppedManifests === 2)
    assert(droppedFiles > 0)
    // live snapshot unharmed
    assert(AtomicTable.read(spark, root)
      .as[(Long, String)].collect().toSet === before)
    // expired versions are gone
    assert(AtomicTable.latestVersion(root) === Some(2))
    intercept[Exception] { AtomicTable.readVersion(spark, root, 0).collect() }
    // vacuum is idempotent
    assert(AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L) === ((0, 0)))
    // sidecars and emptied staged dirs are reaped too: expired commits
    // must not leak one _staged/<uuid> dir (plus .crc/_SUCCESS files)
    // each — that would grow inodes unboundedly under frequent commits
    val staged = java.nio.file.Paths.get(root, "_staged")
    val leftover = java.nio.file.Files.walk(staged).iterator()
    val orphans = scala.collection.mutable.ArrayBuffer[String]()
    while (leftover.hasNext) {
      val p = leftover.next()
      val n = p.getFileName.toString
      if (java.nio.file.Files.isDirectory(p)) {
        // any surviving dir must still hold live parquet
        val hasParquet = java.nio.file.Files.list(p).iterator().asScala
          .exists(_.getFileName.toString.endsWith(".parquet"))
        if (p != staged && !hasParquet) orphans += s"empty dir $n"
      } else if (n == "_SUCCESS" || (n.startsWith(".") && n.endsWith(".crc"))) {
        // a sidecar may only survive next to its live data file
        val twinAlive = n != "_SUCCESS" &&
          java.nio.file.Files.exists(
            p.resolveSibling(n.stripPrefix(".").stripSuffix(".crc")))
        val dirHasParquet = java.nio.file.Files.list(p.getParent)
          .iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
        if (!(twinAlive || (n == "_SUCCESS" && dirHasParquet)))
          orphans += s"orphan sidecar $n"
      }
    }
    assert(orphans.isEmpty, orphans.mkString(", "))
  }

  test("mergeIncremental: crash-replay of the same fact batch cannot duplicate") {
    val root = tmpDir("atomic-facts")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    def batch(ts: java.sql.Timestamp, ids: Seq[String]) =
      ids.map(id => (id, 7L, java.sql.Date.valueOf("2024-01-01"), 9.99, true, ts))
        .toDF("transaction_id", "product_id", "purchase_date", "final_amount",
          "is_member", "ingestion_timestamp")
    Gold.mergeIncremental(spark, batch(t0, Seq("a", "b")), root)
    assert(AtomicTable.read(spark, root).count() === 2)
    // replay of the SAME batch (orchestrator retry): content unchanged
    Gold.mergeIncremental(spark, batch(t0, Seq("a", "b")), root)
    assert(AtomicTable.read(spark, root).count() === 2)
    // genuinely new facts still land
    Gold.mergeIncremental(spark, batch(t1, Seq("c")), root)
    assert(AtomicTable.read(spark, root).count() === 3)
    assert(AtomicTable.read(spark, root).select("transaction_id")
      .as[String].collect().toSet === Set("a", "b", "c"))
    // the watermark is manifest-served: every entry carries ingestion
    // stats and the global max matches the newest batch's stamp
    val bounds = AtomicTable.statsBounds(root, "ingestion_timestamp")
    assert(bounds.isDefined)
    assert(java.sql.Timestamp.valueOf(
      bounds.get._2 + (if (bounds.get._2.contains(".")) "" else ".0")) === t1)
  }

  test("mergeIncremental evaluates its source batch once") {
    // every source row bumps the accumulator each time the batch's
    // plan runs; a merge that re-derives its lazy input per use
    // (partition distinct, key scan, anti-join, union) counts it
    // several times over
    val root = tmpDir("atomic-once")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    val seen = spark.sparkContext.longAccumulator("mergeIncremental-rows")
    val bump = udf { (id: String) => seen.add(1L); id }.asNondeterministic()
    def batch(ts: java.sql.Timestamp, ids: Seq[String]) =
      ids.map(id => (id, 7L, java.sql.Date.valueOf("2024-01-01"), 9.99, true, ts))
        .toDF("transaction_id", "product_id", "purchase_date", "final_amount",
          "is_member", "ingestion_timestamp")
        .withColumn("transaction_id", bump(col("transaction_id")))
    Gold.mergeIncremental(spark, batch(t0, Seq("a", "b", "c")), root)
    seen.reset()
    val ids = Seq("b", "c", "d", "e")
    Gold.mergeIncremental(spark, batch(t1, ids), root)
    assert(seen.value === ids.size.toLong)
    val got = AtomicTable.read(spark, root).select("transaction_id")
      .as[String].collect().toSeq
    assert(got.sorted === Seq("a", "b", "c", "d", "e"))
  }

  test("partition-pruned merge: prior partitions all in the source skip the key scan, same rows") {
    // every prior partition is a source partition, so each prior entry
    // rewrites and the key scan has nothing to decide: an update, a
    // replayed row, a key moving between two source partitions and an
    // insert must still land exactly once
    val root = tmpDir("atomic-moot")
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val d2 = java.sql.Date.valueOf("2024-01-02")
    val d3 = java.sql.Date.valueOf("2024-01-03")
    def rows(t: (Long, String, java.sql.Date)*) = t.toSeq.toDF("k", "v", "pd")
    AtomicTable.appendPartitioned(spark,
      rows((1L, "a", d1), (2L, "b", d1), (3L, "c", d2)), root, "pd")
    val seen = spark.sparkContext.longAccumulator("mergePartitioned-rows")
    val bump = udf { (k: Long) => seen.add(1L); k }.asNondeterministic()
    val source = rows((1L, "A", d1), (3L, "c", d2), (2L, "B", d2), (4L, "d", d3))
      .withColumn("k", bump(col("k")))
    val expected = Set((1L, "A", d1), (2L, "B", d2), (3L, "c", d2), (4L, "d", d3))
    AtomicTable.mergePartitioned(spark, source, root, "k", "pd")
    // the lazy source runs for the partition distinct, the anti-join
    // keys and the union; the key scan would have been a fourth run
    assert(seen.value === expected.size.toLong, seen.value)
    val got = AtomicTable.read(spark, root)
      .as[(Long, String, java.sql.Date)].collect().toSeq
    assert(got.size === expected.size, got.toString)
    assert(got.toSet === expected)
    // replaying the batch converges on the same rows
    AtomicTable.mergePartitioned(spark, source, root, "k", "pd")
    val again = AtomicTable.read(spark, root)
      .as[(Long, String, java.sql.Date)].collect().toSeq
    assert(again.size === expected.size && again.toSet === expected, again.toString)
  }

  test("partition-pruned merge: leading-zero string partitions keep one row per key") {
    // the scanning twin of the partitionLocalKeys leading-zero case:
    // discovery reprints pd=00123 as 123, and merges that skip the key
    // scan and merges that run it must both leave one row per key
    val root = tmpDir("atomic-zeros")
    def rows(t: (String, String, String)*) = t.toSeq.toDF("k", "v", "pd")
    AtomicTable.appendPartitioned(spark,
      rows(("00123|x", "a", "00123"), ("00777|x", "b", "00777")), root, "pd")
    AtomicTable.mergePartitioned(spark, rows(("00123|x", "B", "00123")),
      root, "k", "pd")
    AtomicTable.mergePartitioned(spark, rows(("00123|x", "C", "00123")),
      root, "k", "pd")
    AtomicTable.mergePartitioned(spark,
      rows(("00123|x", "D", "00123"), ("00777|x", "E", "00777")), root, "k", "pd")
    AtomicTable.mergePartitioned(spark, rows(("00777|x", "F", "00777")),
      root, "k", "pd")
    val got = AtomicTable.read(spark, root)
      .select(col("k"), col("v")).as[(String, String)].collect().toSeq
    assert(got.groupBy(_._1).forall(_._2.size == 1), got.toString)
    assert(got.toSet === Set(("00123|x", "D"), ("00777|x", "F")), got.toString)
  }

  test("empty overwrite on an existing table = schema-preserving truncate") {
    val root = tmpDir("atomic-trunc")
    AtomicTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    // truncate commits a NEW version whose snapshot is 0 rows but
    // still reads with the schema — never a schema-less manifest
    val tv = AtomicTable.overwrite(spark, empty, root)
    assert(tv === 1)
    val snap = AtomicTable.read(spark, root)
    assert(snap.count() === 0)
    assert(snap.select(col("k"), col("v")).schema.fieldNames.toSeq
      === Seq("k", "v"))
    // history is intact: the pre-truncate snapshot time-travels
    assert(AtomicTable.readVersion(spark, root, 0).count() === 2)
    // data comes back after a truncate, normally
    AtomicTable.append(spark, Seq((3L, "c")).toDF("k", "v"), root)
    assert(AtomicTable.read(spark, root).as[(Long, String)]
      .collect().toSet === Set((3L, "c")))
    // an empty FIRST write still refuses — no never-written tables
    assert(AtomicTable.overwrite(spark, empty, tmpDir("atomic-trunc2")) === -1)
  }

  test("empty append is a version-stable no-op on an existing table") {
    val root = tmpDir("atomic-noop")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    val v = AtomicTable.append(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), root)
    assert(v === 0) // reports the standing version, commits nothing
    assert(AtomicTable.latestVersion(root) === Some(0))
    assert(AtomicTable.read(spark, root).count() === 1)
  }

  test("version 100000: 6-digit manifests stay visible and writable (no %05d cap)") {
    val root = tmpDir("atomic-v100k")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    // simulate a long-lived table arriving at the 5-digit rollover:
    // clone the committed manifest under the 6-digit name %05d pads to
    val commits = java.nio.file.Paths.get(root, "_commits")
    java.nio.file.Files.copy(commits.resolve("v00000.manifest"),
      commits.resolve("v100000.manifest"))
    // an anchored \d{5} regex would leave latestVersion at 0 — readers
    // stale, and the next writer spinning on FileAlreadyExists forever
    assert(AtomicTable.latestVersion(root) === Some(100000))
    assert(AtomicTable.read(spark, root).count() === 1)
    val v = AtomicTable.append(spark, Seq((2L, "b")).toDF("k", "v"), root)
    assert(v === 100001)
    assert(AtomicTable.read(spark, root).count() === 2)
  }

  test("merge with an empty source is a version-stable no-op, not a full rewrite") {
    val root = tmpDir("atomic-merge-noop")
    AtomicTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val before = AtomicTable.read(spark, root).inputFiles.toSet
    assert(AtomicTable.merge(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), root, "k") === 0)
    assert(AtomicTable.latestVersion(root) === Some(0))
    // same files, not a rewritten content-identical snapshot
    assert(AtomicTable.read(spark, root).inputFiles.toSet === before)
    // replaceGroups with empty source AND empty group set: same no-op
    assert(AtomicTable.replaceGroups(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), root, "k",
      Seq.empty[Tuple1[Long]].toDF("k")) === 0)
    assert(AtomicTable.latestVersion(root) === Some(0))
  }

  test("partitioned merge with an empty source is a version-stable no-op, like merge") {
    val root = tmpDir("atomic-pmerge-noop")
    def rows(t: (Long, String, String)*) = t.toSeq.toDF("k", "v", "p")
    AtomicTable.appendPartitioned(spark, rows((1L, "a", "x"), (2L, "b", "y")), root, "p")
    val before = AtomicTable.read(spark, root).inputFiles.toSet
    // an idle caller (e.g. a per-micro-batch merge with nothing fresh)
    // must not publish a content-identical new version each call
    assert(AtomicTable.mergePartitioned(spark,
      Seq.empty[(Long, String, String)].toDF("k", "v", "p"), root, "k", "p") === 0)
    assert(AtomicTable.latestVersion(root) === Some(0))
    assert(AtomicTable.read(spark, root).inputFiles.toSet === before)
    // empty source on a nonexistent table: nothing committed at all
    val root2 = tmpDir("atomic-pmerge-noop2")
    assert(AtomicTable.mergePartitioned(spark,
      Seq.empty[(Long, String, String)].toDF("k", "v", "p"), root2, "k", "p") === -1)
    assert(AtomicTable.latestVersion(root2) === None)
  }

  test("vacuum prunes _snap exports of expired versions; kept versions stay exported") {
    val root = tmpDir("atomic-snapvac")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    AtomicTable.merge(spark, Seq((2L, "b")).toDF("k", "v"), root, "k")
    val snap0 = AtomicTable.exportSnapshot(root, 0)
    val snap1 = AtomicTable.exportSnapshot(root, 1)
    assert(spark.read.parquet(snap0).count() === 1)
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    // the expired export is unlinked (its hard links would otherwise
    // pin every vacuumed data file's inode forever)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(snap0)))
    // the live version's export survives and still reads
    assert(spark.read.parquet(snap1).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
  }

  test("vacuum never touches a _snap export newer than its manifest listing") {
    // the concurrent-writer race: a commit (and its export) that lands
    // AFTER vacuum lists manifests must not be swept as "unreferenced"
    val root = tmpDir("atomic-snapvac-race")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    AtomicTable.merge(spark, Seq((2L, "b")).toDF("k", "v"), root, "k")
    val phantom = java.nio.file.Paths.get(root, "_snap", "v99")
    java.nio.file.Files.createDirectories(phantom)
    java.nio.file.Files.write(phantom.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(java.nio.file.Files.exists(phantom.resolve("part-0.parquet")))
  }

  test("vacuum age-gates _snap deletion (young expired export survives)") {
    val root = tmpDir("atomic-snapvac-age")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    val snap0 = AtomicTable.exportSnapshot(root, 0)
    AtomicTable.merge(spark, Seq((2L, "b")).toDF("k", "v"), root, "k")
    // v0 is expired by keepLast=1, but its export is seconds old — a
    // retention window keeps a possibly-mid-build export alive
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 3600000L)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(snap0)))
    // once old AND still expired, the next vacuum reaps it
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(snap0),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 3600000L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(snap0)))
  }

  test("partition-pruned merge: non-round-tripping STRING partition values stay correct") {
    val root = tmpDir("atomic-zeropad")
    // all-numeric-looking string values with leading zeros: partition
    // discovery infers an integer column and reprints "00123" as
    // "123", so a dir-string comparison would leave the matched
    // partition untouched and duplicate the moved key — the
    // round-trip guard must force the always-correct full rewrite
    def rows(t: (Long, String, String)*) = t.toSeq.toDF("k", "v", "p")
    AtomicTable.appendPartitioned(spark,
      rows((1L, "a", "00123"), (2L, "b", "7")), root, "p")
    AtomicTable.mergePartitioned(spark, rows((1L, "A", "7")), root, "k", "p")
    val got = AtomicTable.read(spark, root)
      .select(col("k"), col("v")).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "A"), (2L, "b")))
  }

  test("replaceGroups: whole-group replacement, pure deletes, empty result stays readable") {
    val root = tmpDir("atomic-rg")
    AtomicTable.append(spark,
      Seq((1L, 0L, "1a"), (1L, 1L, "1b"), (2L, 0L, "2a"))
        .toDF("doc_id", "chunk_id", "payload"), root)
    // doc 1 re-ingested with FEWER rows: stale chunk 1 must vanish —
    // the case a row-keyed merge cannot express
    AtomicTable.replaceGroups(spark,
      Seq((1L, 0L, "1a'")).toDF("doc_id", "chunk_id", "payload"),
      root, "doc_id", Seq(Tuple1(1L)).toDF("doc_id"))
    assert(AtomicTable.read(spark, root).as[(Long, Long, String)]
      .collect().toSet === Set((1L, 0L, "1a'"), (2L, 0L, "2a")))
    // pure delete: doc 2 in the group set with no new rows
    AtomicTable.replaceGroups(spark,
      Seq.empty[(Long, Long, String)].toDF("doc_id", "chunk_id", "payload"),
      root, "doc_id", Seq(Tuple1(2L)).toDF("doc_id"))
    assert(AtomicTable.read(spark, root).as[(Long, Long, String)]
      .collect().toSet === Set((1L, 0L, "1a'")))
    // deleting the last group leaves a READABLE 0-row snapshot
    AtomicTable.replaceGroups(spark,
      Seq.empty[(Long, Long, String)].toDF("doc_id", "chunk_id", "payload"),
      root, "doc_id", Seq(Tuple1(1L)).toDF("doc_id"))
    val snap = AtomicTable.read(spark, root)
    assert(snap.count() === 0)
    assert(snap.schema.fieldNames.contains("payload"))
    // replay of the same call is idempotent (still 0 rows, reads fine)
    AtomicTable.replaceGroups(spark,
      Seq.empty[(Long, Long, String)].toDF("doc_id", "chunk_id", "payload"),
      root, "doc_id", Seq(Tuple1(1L)).toDF("doc_id"))
    assert(AtomicTable.read(spark, root).count() === 0)
  }

  test("tags: read by name, survive further commits, pin versions through vacuum") {
    val root = tmpDir("atomic-tags")
    AtomicTable.append(spark, Seq((1L, "a")).toDF("k", "v"), root)
    val tagged = AtomicTable.tag(root, "release-1")
    assert(tagged === 0)
    AtomicTable.append(spark, Seq((2L, "b")).toDF("k", "v"), root)
    AtomicTable.append(spark, Seq((3L, "c")).toDF("k", "v"), root)
    // by-name time travel sees the pinned snapshot, not the head
    assert(AtomicTable.readRef(spark, root, "release-1")
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    // vacuum keeps the tagged version even though keepLast=1 would
    // expire it — and its data files stay live
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(AtomicTable.readRef(spark, root, "release-1")
      .as[(Long, String)].collect().toSet === Set((1L, "a")))
    // v1 (untagged, non-head) is gone
    intercept[Exception](AtomicTable.readVersion(spark, root, 1).collect())
    // re-tagging moves the name; dropping unpins so vacuum reaps it
    AtomicTable.tag(root, "release-1")
    assert(AtomicTable.refs(root)("release-1") === 2)
    assert(AtomicTable.dropRef(root, "release-1"))
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(AtomicTable.refs(root).isEmpty)
    assert(AtomicTable.read(spark, root).as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // malformed names refuse
    intercept[IllegalArgumentException](AtomicTable.tag(root, "../escape", 2))
  }

  // ── mergeBatch: append path, merge path, recorded schemas ───────────

  private def batchRows(t: (String, String, String)*) =
    t.toSeq.map { case (k, v, d) => (k, v, java.sql.Date.valueOf(d)) }.toDF("k", "v", "pd")
  private def mergeBatch(root: String, df: org.apache.spark.sql.DataFrame) =
    AtomicTable.mergeBatch(spark, df, root, "k", "pd", None).version
  private def entryPath(root: String, e: String) =
    java.nio.file.Paths.get(root, e.split("\t")(0))
  private def keyValues(root: String) =
    AtomicTable.read(spark, root).select("k", "v").as[(String, String)].collect().toSeq
  /** v's manifest keeps every entry of v-1: an append */
  private def appended(root: String, v: Int) =
    AtomicTable.files(root, v - 1).forall(AtomicTable.files(root, v).contains)
  private def hasFilter(root: String, e: String) =
    java.nio.file.Files.exists(graft.gold.KeyFilter.sidecar(entryPath(root, e)))
  private def walkPaths(root: String, dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(root, dir)
    if (!java.nio.file.Files.exists(d)) Nil
    else {
      val w = java.nio.file.Files.walk(d)
      try w.iterator().asScala.toList finally w.close()
    }
  }

  test("mergeBatch: a key-disjoint batch commits as an append, prior files untouched") {
    val root = tmpDir("batch-append")
    val v0 = mergeBatch(root, batchRows(("a", "1", "2024-01-01"), ("b", "1", "2024-01-02")))
    val prior = AtomicTable.files(root, v0)
    assert(prior.forall(hasFilter(root, _)), prior)
    val bytes = prior.map(e => java.nio.file.Files.readAllBytes(entryPath(root, e)).toSeq)
    val batch = batchRows(("c", "2", "2024-01-01"), ("d", "2", "2024-01-03"))
    val v1 = mergeBatch(root, batch)
    assert(v1 === v0 + 1)
    assert(appended(root, v1))
    assert(prior.map(e => java.nio.file.Files.readAllBytes(entryPath(root, e)).toSeq) === bytes)
    assert(AtomicTable.appendedBetween(spark, root, v0, v1).select("k", "v", "pd")
      .as[(String, String, java.sql.Date)].collect().toSet ===
      batch.as[(String, String, java.sql.Date)].collect().toSet)
    assert(keyValues(root).sorted === Seq("a" -> "1", "b" -> "1", "c" -> "2", "d" -> "2"))
  }

  test("mergeBatch: an existing key takes the merge path, the new row wins, then appends resume") {
    val root = tmpDir("batch-merge")
    mergeBatch(root, batchRows(("a", "1", "2024-01-01"), ("b", "1", "2024-01-02"),
      ("c", "1", "2024-01-03")))
    val v1 = mergeBatch(root, batchRows(("d", "2", "2024-01-01")))
    assert(appended(root, v1))
    // b is updated in place, a moves from 01-01 to 01-03, e is new
    val v2 = mergeBatch(root, batchRows(("b", "3", "2024-01-02"), ("a", "3", "2024-01-03"),
      ("e", "3", "2024-01-02")))
    val want = Seq("a" -> "3", "b" -> "3", "c" -> "1", "d" -> "2", "e" -> "3")
    assert(keyValues(root).sorted === want)
    assert(!appended(root, v2))
    intercept[IllegalStateException](AtomicTable.appendedBetween(spark, root, v1, v2))
    // the rewritten files carry filters, so a disjoint batch appends again
    assert(AtomicTable.files(root, v2).forall(hasFilter(root, _)))
    val v3 = mergeBatch(root, batchRows(("f", "4", "2024-01-02")))
    assert(appended(root, v3))
    assert(keyValues(root).sorted === want :+ ("f" -> "4"))
  }

  test("mergeBatch: files without filters or schema records take the merge path, same rows") {
    val root = tmpDir("batch-legacy")
    AtomicTable.appendPartitioned(spark,
      batchRows(("a", "1", "2024-01-01"), ("b", "1", "2024-01-02")), root, "pd")
    walkPaths(root, "_staged").filter(_.getFileName.toString == "_schema.json")
      .foreach(java.nio.file.Files.delete)
    val v0 = AtomicTable.latestVersion(root).get
    assert(!AtomicTable.files(root, v0).exists(hasFilter(root, _)))
    val v1 = mergeBatch(root, batchRows(("c", "2", "2024-01-01"), ("b", "2", "2024-01-02")))
    assert(!appended(root, v1))
    assert(keyValues(root).sorted === Seq("a" -> "1", "b" -> "2", "c" -> "2"))
    val v2 = mergeBatch(root, batchRows(("d", "3", "2024-01-02")))
    assert(appended(root, v2))
    assert(keyValues(root).sorted === Seq("a" -> "1", "b" -> "2", "c" -> "2", "d" -> "3"))
  }

  test("mergeBatch: a false positive (a filter with every bit set) takes the merge path, same rows") {
    val root = tmpDir("batch-fp")
    val v0 = mergeBatch(root, batchRows(("a", "1", "2024-01-01"), ("b", "1", "2024-01-02")))
    val e = AtomicTable.files(root, v0).find(_.contains("pd=2024-01-02")).get
    val p = graft.gold.KeyFilter.sidecar(entryPath(root, e))
    val f = graft.gold.KeyFilter.read(p).get
    graft.gold.KeyFilter.write(p, f.copy(words = Array.fill(f.words.length)(-1L)))
    val v1 = mergeBatch(root, batchRows(("c", "2", "2024-01-02"), ("d", "2", "2024-01-01")))
    assert(!appended(root, v1))
    assert(keyValues(root).sorted === Seq("a" -> "1", "b" -> "1", "c" -> "2", "d" -> "2"))
  }

  test("mergeBatch: after a compact of filtered appends, a key-disjoint batch still appends") {
    val root = tmpDir("batch-compact")
    (1 to 4).foreach(i => mergeBatch(root, batchRows(
      (s"a$i", "1", "2024-01-01"), (s"b$i", "1", "2024-01-02"))))
    val head = AtomicTable.latestVersion(root).get
    assert((1 to head).forall(appended(root, _)))
    val v = AtomicTable.compact(spark, root, partitionCol = Some("pd"))
    assert(v === head + 1)
    assert(AtomicTable.files(root, v).size === 2)
    assert(AtomicTable.files(root, v).forall(hasFilter(root, _)))
    val after = mergeBatch(root, batchRows(("c", "2", "2024-01-01"), ("d", "2", "2024-01-02")))
    assert(appended(root, after))
    assert(keyValues(root).sorted ===
      ((1 to 4).flatMap(i => Seq(s"a$i" -> "1", s"b$i" -> "1")) ++ Seq("c" -> "2", "d" -> "2")).sorted)
  }

  test("mergeBatch: a replayed key rewrites only the one file whose filter claims it") {
    val root = tmpDir("batch-one-file")
    (0 until 20).foreach(i => mergeBatch(root, batchRows((s"k$i", "1", "2024-01-01"))))
    val head = AtomicTable.latestVersion(root).get
    val prior = AtomicTable.files(root, head)
    assert(prior.size === 20 && prior.forall(hasFilter(root, _)), prior)
    val v = mergeBatch(root, batchRows(("k7", "2", "2024-01-01"), ("n", "2", "2024-01-01")))
    val now = AtomicTable.files(root, v)
    val gone = prior.filterNot(now.contains)
    assert(gone.size === 1, gone)
    assert(gone.head === prior.find(e =>
      spark.read.parquet(entryPath(root, e).toString).select("k").as[String].collect().toSeq == Seq("k7")).get)
    assert(keyValues(root).sorted ===
      ((0 until 20).map(i => s"k$i" -> (if (i == 7) "2" else "1")) :+ ("n" -> "2")).sorted)
  }

  test("keyed writes into partition dirs Hive escapes get filters; a key-disjoint merge appends") {
    val root = tmpDir("escaped-parts")
    def rows(t: (Long, String, String)*) = t.toSeq.toDF("k", "v", "p")
    AtomicTable.mergePartitioned(spark, rows((1L, "a", "x:y"), (2L, "b", "50%"), (3L, "c", "plain")),
      root, "k", "p")
    val v0 = AtomicTable.latestVersion(root).get
    assert(AtomicTable.files(root, v0).forall(hasFilter(root, _)), AtomicTable.files(root, v0))
    assert(appended(root, AtomicTable.mergePartitioned(spark, rows((4L, "d", "x:y")), root, "k", "p")))
    AtomicTable.mergePartitioned(spark, rows((2L, "B", "x:y")), root, "k", "p")
    assert(AtomicTable.read(spark, root).select("k", "v", "p").as[(Long, String, String)]
      .collect().toSet === Set((1L, "a", "x:y"), (2L, "B", "x:y"), (3L, "c", "plain"), (4L, "d", "x:y")))
  }

  test("a pure delete leaves no filterless entry: the next key-disjoint merge appends, no key scan") {
    val root = tmpDir("pure-delete")
    def rows(ks: Long*) = ks.map(k => (k, s"v$k")).toDF("k", "v")
    def pureDelete(ks: Long*) = AtomicTable.replaceGroups(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), root, "k", ks.toDF("k"))
    def got = AtomicTable.read(spark, root).as[(Long, String)].collect().toSet
    def mergeAppendsWithoutScan(k: Long): Unit = {
      val w = RunWitness.attach(spark)
      val v = try {
        val v = AtomicTable.merge(spark, rows(k), root, "k")
        var waited = 0
        while (w.jobs().exists(_.end < 0) && waited < 5000) { Thread.sleep(50); waited += 50 }
        v
      } finally spark.sparkContext.removeSparkListener(w)
      assert(appended(root, v))
      assert(!w.jobs().exists(_.desc == "AtomicTable key scan"), w.jobs().map(_.desc))
    }
    AtomicTable.merge(spark, rows(1L, 2L, 3L), root, "k")
    pureDelete(2L)
    assert(got === Set(1L -> "v1", 3L -> "v3"))
    mergeAppendsWithoutScan(4L)
    // deleting every group leaves a 0-row snapshot that keeps its schema
    pureDelete(1L, 3L, 4L)
    val emptied = AtomicTable.latestVersion(root).get
    assert(AtomicTable.read(spark, root).count() === 0)
    assert(AtomicTable.read(spark, root).schema.fieldNames.toSeq === Seq("k", "v"))
    assert(AtomicTable.files(root, emptied).forall(hasFilter(root, _)))
    mergeAppendsWithoutScan(5L)
    assert(got === Set(5L -> "v5"))
  }

  test("recorded staged-dir schemas read the same as footer inference") {
    // a non-nullable input (range ids, literals), an add-column commit
    // in a second dir, and both partitioned and plain entries
    def check(root: String): Unit = {
      val records = walkPaths(root, "_staged")
        .filter(_.getFileName.toString == "_schema.json")
      assert(records.size === 2)
      val recorded = AtomicTable.read(spark, root)
      val (schema, rows) = (recorded.schema, recorded.collect().toSet)
      records.foreach(java.nio.file.Files.delete)
      val inferred = AtomicTable.read(spark, root)
      assert(schema === inferred.schema)
      assert(rows === inferred.collect().toSet)
      assert(rows.size === 6)
    }
    val base = spark.range(4).select(col("id").as("k"), lit("x").as("v"),
      (col("id") % 2).cast("string").as("p"))
    assert(!base.schema("k").nullable)
    val wider = spark.range(4, 6).select(col("id").as("k"), lit("y").as("v"),
      lit(1.5).as("extra"), lit("1").as("p"))
    val parted = tmpDir("schema-parted")
    AtomicTable.appendPartitioned(spark, base, parted, "p")
    AtomicTable.appendPartitioned(spark, wider, parted, "p")
    check(parted)
    val plain = tmpDir("schema-plain")
    AtomicTable.append(spark, base, plain)
    AtomicTable.append(spark, wider, plain)
    check(plain)
  }

  test("racing mergeBatch writers: appends and merges interleave, every key once, no stray dir") {
    val root = tmpDir("batch-race")
    mergeBatch(root, batchRows(("k0", "base", "2024-01-01"), ("k1", "base", "2024-01-02")))
    // writers 0 and 1 update a base key (merge path), 2 and 3 only
    // insert (append path unless they lose to a merge)
    def keysOf(w: Int) = (if (w < 2) Seq(s"k$w") else Nil) ++ Seq(s"n$w-a", s"n$w-b")
    val writes = (0 until 4).map(w => batchRows(
      keysOf(w).map(k => (k, s"w$w", s"2024-01-0${1 + w % 2}")): _*))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val futures = writes.map(df => pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = { latch.await(); mergeBatch(root, df) }
    }))
    latch.countDown()
    val versions = futures.map(_.get())
    pool.shutdown()
    assert(versions.sorted === (1 to 4), versions)
    val got = keyValues(root)
    assert(got.size === 2 + 2 * 4, got)
    assert(got.toMap === (0 until 4).flatMap(w => keysOf(w).map(_ -> s"w$w")).toMap)
    // a lost attempt's rewrite is dropped: every staged dir is named
    // by some manifest
    val named = (0 to 4).flatMap(AtomicTable.files(root, _))
      .map(_.split("/").take(2).mkString("/")).toSet
    val dirs = new java.io.File(root, "_staged").list().map(d => s"_staged/$d").toSet
    assert(dirs === named)
  }

  test("vacuum reaps key filters and schema records with their expired dirs; a merge batch leaves no stray dir") {
    val root = tmpDir("batch-vac")
    mergeBatch(root, batchRows(("a", "1", "2024-01-01"), ("b", "1", "2024-01-02")))
    mergeBatch(root, batchRows(("c", "2", "2024-01-02")))
    val v2 = mergeBatch(root, batchRows(("b", "3", "2024-01-02")))
    assert(!appended(root, v2))
    def stagedDirs = new java.io.File(root, "_staged").list().map(d => s"_staged/$d").toSet
    def dirsOf(v: Int) = AtomicTable.files(root, v).map(_.split("/").take(2).mkString("/")).toSet
    // the merge path wrote its batch and its rewrite, nothing else
    assert(stagedDirs === (0 to v2).flatMap(dirsOf).toSet)
    val before = keyValues(root).sorted
    AtomicTable.vacuum(root, keepLast = 1, retentionMs = 0L)
    assert(stagedDirs === dirsOf(v2))
    val live = AtomicTable.files(root, v2).map(entryPath(root, _)).toSet
    val left = walkPaths(root, "_staged").filter(java.nio.file.Files.isRegularFile(_))
    left.map(_.getFileName.toString).filter(_.endsWith(".bloom")).foreach { n =>
      assert(left.exists(p => live(p) && n == s".${p.getFileName}.bloom"), n)
    }
    assert(left.count(_.getFileName.toString == "_schema.json") === dirsOf(v2).size)
    assert(live.forall(p => java.nio.file.Files.exists(graft.gold.KeyFilter.sidecar(p))))
    assert(keyValues(root).sorted === before)
    assert(appended(root, mergeBatch(root, batchRows(("d", "4", "2024-01-03")))))
  }

  // ── stats + filters read-back ───────────────────────────────────────

  /** The read-back as one aggregation grouped by `input_file_name()`
    * (the stager's former implementation): per file of `dir`, its
    * `zs=` field of `stats` and its key hashes, None past the cap.
    */
  private def aggregatedReadBack(root: String, dir: String, df: org.apache.spark.sql.DataFrame,
      stats: String, key: String): Map[String, (Seq[String], Option[Seq[Long]])] = {
    val readSchema = df.select(Seq(stats, key).distinct.map(col): _*).schema
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    spark.read.schema(readSchema).parquet(s"$root/$dir")
      .groupBy(input_file_name())
      .agg(min(col(stats)).cast("string"), max(col(stats)).cast("string"),
        when(count(lit(1)) <= graft.gold.KeyFilter.MaxKeys, collect_list(xxhash64(col(key)))))
      .collect().map { r =>
        val f = r.getString(0)
        val ord = if (readSchema(stats).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          "num" else "str"
        val zs = if (r.isNullAt(1)) Nil
          else Seq(s"zs=${enc(stats)},$ord,${enc(r.getString(1))},${enc(r.getString(2))}")
        f.substring(f.indexOf("_staged/")) -> (zs, Option(r.getSeq[Long](3)))
      }.toMap
  }

  /** mergeBatch `df` (key `k`, partitions `pd`) into a fresh table with
    * zone maps on `stats`; check every staged file's `zs=` field and
    * filter bits against [[aggregatedReadBack]], and that no read-back
    * job ran (the writing tasks gather the stats). Returns the table
    * root and its entries.
    */
  private def readBackMatches(df: org.apache.spark.sql.DataFrame, stats: String)
      : (String, Seq[String]) = {
    val root = tmpDir(s"readback-$stats")
    val w = RunWitness.attach(spark)
    val entries = try {
      AtomicTable.mergeBatch(spark, df, root, "k", "pd", Some(stats))
      // a marker job flushes the listener bus, which delivers in order
      val sc = spark.sparkContext
      sc.setJobDescription("read-back marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var waited = 0
      while (!w.jobs().exists(j => j.desc == "read-back marker" && j.end >= 0) && waited < 5000) {
        Thread.sleep(50); waited += 50
      }
      val readBacks = w.jobs().filter(_.desc == "AtomicTable stats + filters")
      assert(readBacks.size === 0, w.jobs().map(_.desc))
      AtomicTable.files(root, AtomicTable.latestVersion(root).get)
    } finally spark.sparkContext.removeSparkListener(w)
    assertAggregated(root, entries, df, stats, "k")
    (root, entries)
  }

  /** `entries`, all of one staged dir, hold the `zs=` fields of `stats`
    * and the filter bits on `key` that [[aggregatedReadBack]] gives.
    */
  private def assertAggregated(root: String, entries: Seq[String],
      df: org.apache.spark.sql.DataFrame, stats: String, key: String): Unit = {
    val dir = entries.head.split("/").take(2).mkString("/")
    val want = aggregatedReadBack(root, dir, df, stats, key)
    assert(entries.map(_.split("\t")(0)).toSet === want.keySet)
    entries.foreach { e =>
      val (zs, hashes) = want(e.split("\t")(0))
      assert(e.split("\t").filter(_.startsWith("zs=")).toSeq === zs, e)
      val got = graft.gold.KeyFilter.read(graft.gold.KeyFilter.sidecar(entryPath(root, e)))
      assert(got.map(f => (f.column, f.words.toSeq)) ===
        hashes.map(hs => (key, graft.gold.KeyFilter.build(key, hs).words.toSeq)), e)
    }
  }

  test("stats + filters read-back: no read-back job, the same zs= fields and filter bits as the aggregation") {
    // timestamp, decimal, string and date stats (nulls among them), an
    // all-null column; several files per partition; a non-UTC zone,
    // in which bounds render
    val rows = (0 until 240).map { i =>
      (s"k$i", java.sql.Date.valueOf(s"2024-01-0${1 + i % 3}"),
        if (i % 7 == 0) null else new java.sql.Timestamp(1704067200000L + i * 3600000L),
        if (i % 5 == 0) null else BigDecimal(i * 37 % 1000) / 8,
        if (i % 11 == 0) null else s"s${(i * 13) % 97}",
        if (i % 4 == 0) null else java.sql.Date.valueOf(s"2023-12-${10 + i % 19}"),
        null: java.sql.Timestamp)
    }
    val df = rows.toDF("k", "pd", "ts", "amt", "s", "d", "nul")
      .withColumn("amt", col("amt").cast("decimal(12,3)")).repartition(3)
    withConfs("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      Seq("ts", "amt", "s", "d", "nul").foreach { c =>
        val (_, entries) = readBackMatches(df, c)
        assert(entries.size > 3, entries)
        if (c == "nul") assert(!entries.exists(_.contains("zs=")))
        else assert(entries.forall(_.contains("zs=")))
      }
    }
  }

  test("stats + filters read-back: a file of several row groups gets the same fields and bits") {
    val df = spark.range(0, 20000, 1, 1)
      .select(concat(lit("k"), col("id")).as("k"), lit(java.sql.Date.valueOf("2024-01-01")).as("pd"),
        timestamp_seconds(lit(1704067200L) + (col("id") * 7919) % 100000).as("ts"))
    // small row groups
    val (root, entries) = withConfs("parquet.block.size" -> "16384") {
      readBackMatches(df, "ts")
    }
    assert(entries.size === 1)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(entryPath(root, entries.head).toString))
    assert(footer.getBlocks.size > 1)
  }

  test("stats + filters read-back: a file over the key cap gets zone maps and no filter") {
    val n = graft.gold.KeyFilter.MaxKeys + 1L
    val df = spark.range(0, n, 1, 1)
      .select(concat(lit("k"), col("id")).as("k"), lit(java.sql.Date.valueOf("2024-01-01")).as("pd"),
        col("id").as("n"))
    val (root, entries) = readBackMatches(df, "n")
    assert(entries.size === 1)
    assert(entries.head.contains(s"zs=n,num,0,${n - 1}"))
    assert(!hasFilter(root, entries.head))
  }

  // ── a streamed Gold batch: one job, dedup only when keys repeat ─────

  private def facts(t: java.sql.Timestamp, rows: (String, Long)*) =
    rows.zipWithIndex.map { case ((id, product), i) =>
      (id, product, java.sql.Date.valueOf(s"2024-01-0${1 + i % 3}"), 1.5 * i, i % 2 == 0,
        new java.sql.Timestamp(t.getTime + i * 1000L))
    }.toDF("transaction_id", "product_id", "purchase_date", "final_amount", "is_member",
      "ingestion_timestamp")

  /** The staged dirs under `root` that no manifest names. */
  private def strayDirs(root: String): Set[String] = {
    val named = (0 to AtomicTable.latestVersion(root).get).flatMap(AtomicTable.files(root, _))
      .map(_.split("/").take(2).mkString("/")).toSet
    new java.io.File(root, "_staged").list().map(d => s"_staged/$d").toSet -- named
  }

  test("mergeIncremental: a steady batch of new keys is one job, its entries equal the aggregation") {
    val root = tmpDir("gold-steady")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 11:00:00")
    Gold.mergeIncremental(spark, facts(t0, (0 until 20).map(i => s"a$i" -> i.toLong): _*), root)
    val batch = facts(t1, (0 until 30).map(i => s"b$i" -> i.toLong): _*)
    val (commit, jobs) = jobsOf(Gold.mergeIncremental(spark, batch, root))
    assert(jobs === 1)
    assert(commit.inserted === 30)
    assert(appended(root, commit.version))
    val added = AtomicTable.files(root, commit.version)
      .filterNot(AtomicTable.files(root, commit.version - 1).contains)
    assert(added.size >= 3, added)
    assertAggregated(root, added, batch, "ingestion_timestamp", "transaction_id")
    assert(strayDirs(root).isEmpty)
  }

  test("mergeIncremental: a repeated id or two null ids keep one first-writer row per key") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def stored(root: String) = AtomicTable.read(spark, root)
      .select("transaction_id", "product_id").as[(String, Long)].collect().toSeq.sortBy(_._2)
    // rows i stamp t0 + i s: the earlier row of a repeated id is its first writer
    val repeated = tmpDir("gold-repeat")
    val c1 = Gold.mergeIncremental(spark, facts(t0, "x" -> 1L, "y" -> 2L, "x" -> 3L, "z" -> 4L), repeated)
    assert(c1.inserted === 3)
    assert(stored(repeated) === Seq("x" -> 1L, "y" -> 2L, "z" -> 4L))
    assert(strayDirs(repeated).isEmpty)
    val nulls = tmpDir("gold-nulls")
    val c2 = Gold.mergeIncremental(spark, facts(t0, (null: String) -> 5L, "w" -> 6L,
      (null: String) -> 7L), nulls)
    assert(c2.inserted === 2)
    assert(stored(nulls) === Seq((null: String) -> 5L, "w" -> 6L))
    assert(strayDirs(nulls).isEmpty)
    // a lone null id is no repeat: staged as it is, one job
    val lone = tmpDir("gold-lone-null")
    val (c3, jobs) = jobsOf(Gold.mergeIncremental(spark,
      facts(t0, (null: String) -> 8L, "v" -> 9L), lone))
    assert(c3.inserted === 2 && jobs === 1)
    assert(stored(lone) === Seq((null: String) -> 8L, "v" -> 9L))
  }

  test("a deduplicating write caps its files at the key cap: every file gets a filter and correct stats") {
    val root = tmpDir("gold-cap")
    val n = graft.gold.KeyFilter.MaxKeys + 1L
    val df = spark.range(0, n, 1, 1)
      .select(concat(lit("k"), col("id")).as("k"), lit(java.sql.Date.valueOf("2024-01-01")).as("pd"),
        col("id").as("n"))
    val (commit, jobs) = jobsOf(AtomicTable.mergeBatch(spark, df, root, "k", "pd", Some("n"),
      firstWriter = Seq(col("n"))))
    assert(jobs === 1 && commit.inserted === n)
    val entries = AtomicTable.files(root, commit.version)
    assert(entries.size === 2, entries)
    assert(entries.forall(hasFilter(root, _)))
    assertAggregated(root, entries, df, "n", "k")
    assert(AtomicTable.statsBounds(root, "n") === Some(("0", (n - 1).toString)))
  }
}
