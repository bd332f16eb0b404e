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
      rows(("2024-01-02|x", "B", d2)), root, "k", "pd",
      partitionLocalKeys = true)
    val v1Files = AtomicTable.files(root, v1)
    assert(v0Files.filter(_.contains("pd=2024-01-01")).toSet ===
      v1Files.filter(_.contains("pd=2024-01-01")).toSet)
    val got = AtomicTable.read(spark, root)
      .as[(String, String, java.sql.Date)].collect().toSet
    assert(got === Set(("2024-01-01|x", "a", d1), ("2024-01-02|x", "B", d2),
      ("2024-01-02|y", "c", d2)))
  }

  test("partitionLocalKeys downgrades to the scan for discovery-unstable values") {
    // discoveryStable classification: the values the fast path may
    // plan from manifest strings alone
    import graft.gold.AtomicTable.discoveryStable
    assert(discoveryStable("0") && discoveryStable("123")
      && discoveryStable("-45"))
    assert(discoveryStable("2024-01-20"))
    assert(discoveryStable("electronics") && discoveryStable("a|b"))
    // reprinting values must keep the scanning path's roundTrips guard
    assert(!discoveryStable("00123")) // int reprint "123"
    assert(!discoveryStable("1.50"))  // double reprint "1.5"
    assert(!discoveryStable("1e5"))   // double reprint "100000.0"
    assert(!discoveryStable("+5"))    // int reprint "5"
    assert(!discoveryStable(""))

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
      root, "k", "pd", partitionLocalKeys = true)
    AtomicTable.mergePartitioned(spark, rows(("00123|x", "C", "00123")),
      root, "k", "pd", partitionLocalKeys = true)
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
    assert(Gold.mergeIncremental(spark, facts, root) === -1)
    val real = Seq(("t1", 7L, 9.99, java.sql.Date.valueOf("2024-01-01"),
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("transaction_id", "product_id", "final_amount", "purchase_date",
        "ingestion_timestamp")
    assert(Gold.mergeIncremental(spark, real, root) === 0)
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
    assert(seen.value === 3L * expected.size, seen.value)
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
}
