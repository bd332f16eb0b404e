package graft.gold

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.util.control.NonFatal
import graft.Staging.{counted, rowsOf}

/** Minimal ACID table format: snapshot isolation via versioned
  * manifests and an atomic-rename commit, the mechanism the
  * reference's Gold layer gets from Iceberg v2
  * (`pipeline/spark/delta_to_iceberg.py:43-52`, `README.md:41`)
  * re-expressed engine-side.
  *
  * Layout under a table root:
  * {{{
  *   <root>/_staged/<uuid>/part-*.parquet   data files (immutable once
  *                                          referenced by a manifest)
  *   <root>/_staged/<uuid>/_schema.json     the staged frame's schema,
  *                                          its partition field included
  *                                          (read with it: no footer
  *                                          inference, no discovery)
  *   <root>/_staged/<uuid>/.part-*.parquet.bloom
  *                                          per-file key Bloom filter
  *                                          ([[KeyFilter]]; files a
  *                                          keyed write wrote)
  *   <root>/_commits/v00042.manifest        one entry per data file:
  *                                          relative path + optional
  *                                          tagged fields (partition
  *                                          value, per-file min/max
  *                                          zone-map stats; see [[files]])
  * }}}
  * (`[<col>=<value>/]` sits between the uuid dir and the part files of
  * a partitioned write.) The sidecars are immutable, hidden from
  * directory listings by their `_`/`.` prefix, and die with their data
  * in [[vacuum]]. A dir or file without them (older writers) still
  * reads: its schema is inferred, and a keyed write scans a file
  * without a filter for the keys it deletes.
  *
  * Protocol:
  *  - WRITE: stage data files (never visible to readers), then publish
  *    a manifest for version latest+1 with an ATOMIC file move. The
  *    stage is one Spark write job whose tasks also gather each file's
  *    row count, zone maps and key hashes ([[FileStats]]), so no job
  *    reads the files back before the commit. Two
  *    concurrent writers race on the same version name — the loser's
  *    move fails (target exists), it re-reads the latest version and
  *    retries one higher, so every commit lands exactly once and no
  *    files are lost (optimistic concurrency, no locks).
  *  - READ: resolve the highest committed manifest, read exactly the
  *    files it lists as ONE scan ([[ManifestIndex]]), partition values
  *    taken from the entries and typed by the schema records; no
  *    directory is listed and no partition is discovered. Readers
  *    never see a half-written commit because the manifest appears
  *    atomically AFTER its data files are closed.
  *  - MERGE (upsert): new snapshot = target rows whose key is absent
  *    from the delete set (anti join) ∪ source rows, written by ONE
  *    staged, file-granular writer ([[upsert]]): the source is staged
  *    once with a key filter per file (deduplicated on the key when
  *    the caller asks and a key hash repeats), and a commit rewrites
  *    only the live files that may hold a deleted key (their filter
  *    claims one, or a key scan finds one in a file without a filter);
  *    every other file carries over by path. A commit costs the files it
  *    touches, not the table.
  *
  * Old versions stay readable (time travel) until a vacuum removes
  * manifests + unreferenced files. Local-fs `ATOMIC_MOVE` maps to the
  * same guarantee as an HDFS namenode rename; an object store (no
  * atomic rename) would swap this seam for a conditional-PUT or
  * metastore CAS — only [[tryPublish]] changes.
  */
object AtomicTable {

  private def commitsDir(root: String) = Paths.get(root, "_commits")

  // \d{5,}: %05d PADS to 5 digits but does not cap — version 100000
  // writes a 6-digit name, and an anchored {5} would make that commit
  // invisible to latestVersion (readers stuck on the stale snapshot,
  // every writer spinning on FileAlreadyExists forever). Versions
  // compare as parsed ints, never lexicographically, so variable
  // width is safe.
  private val ManifestRe = raw"v(\d{5,})\.manifest".r

  /** Files.list returns a DirectoryStream-backed stream that leaks a
    * file descriptor unless closed — every directory listing goes
    * through here.
    */
  private def listDir[T](dir: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => T): T = {
    val s = Files.list(dir)
    try f(scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala)
    finally s.close()
  }

  /** Highest committed version, if any. */
  def latestVersion(root: String): Option[Int] = {
    val dir = commitsDir(root)
    if (!Files.isDirectory(dir)) return None
    val best = listDir(dir)(_.foldLeft(-1) { (b, p) =>
      p.getFileName.toString match {
        case ManifestRe(v) => math.max(b, v.toInt)
        case _ => b
      }
    })
    if (best < 0) None else Some(best)
  }

  private def manifestPath(root: String, v: Int) =
    commitsDir(root).resolve(f"v$v%05d.manifest")

  /** Manifest entries of a version, one line per data file. An entry
    * is TAB-separated: the path relative to the table root always
    * comes first, then optional tagged fields —
    *  - `p=<urlenc dir value>`: the Hive partition dir value, written
    *    by a partitioned [[stage]];
    *  - `zs=<urlenc col>,<ord>,<urlenc min>,<urlenc max>`: per-file
    *    zone-map stats, one field per column, where `<ord>` (`num` or
    *    `str`) is the ordering min/max were captured under.
    * URL-encoding escapes tabs and commas, so every split is
    * unambiguous.
    */
  def files(root: String, v: Int): Seq[String] =
    scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(manifestPath(root, v))).asScala.toSeq.filter(_.nonEmpty)

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def pathOf(e: String): String = e.split("\t")(0)

  /** Partition dir value (raw Hive dir string) of an entry, if any. */
  private def partOf(e: String): Option[String] =
    e.split("\t").find(_.startsWith("p=")).map(f => dec(f.substring(2)))

  /** (orderTag, min, max) zone-map stats of `column` for an entry, if
    * recorded. Comparing under any ordering but the recorded one can
    * mis-prune (see [[cmpOrd]]).
    */
  private def zstatsOf(e: String, column: String)
      : Option[(String, String, String)] =
    e.split("\t").filter(_.startsWith("zs=")).iterator
      .map(_.substring(3).split(",", -1))
      .collectFirst {
        case Array(c, ord, mn, mx) if dec(c) == column =>
          (ord, dec(mn), dec(mx))
      }

  /** Read the latest snapshot (empty schema-less read is an error —
    * callers check [[latestVersion]] for existence-dependent logic).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    readVersion(spark, root, v)
  }

  /** Time-travel read of an explicit version. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame =
    readEntries(spark, root, files(root, v))

  /** Read a set of manifest entries as ONE scan: a [[HadoopFsRelation]]
    * over a [[ManifestIndex]] that lists exactly these files, so the
    * plan has one leaf however many staged dirs the entries span, and
    * no directory is listed or parsed for partition values.
    *
    * The frame's schema is the union of the staged dirs' records
    * ([[SchemaRecord]]), fields in first-seen order over the dirs'
    * paths; a dir without a record (older writers) contributes its
    * files' footer schemas, merged in one inference. The partition
    * column (the `<col>=` dir of entries with a `p=` field) is typed
    * as a record holding it says, as a string when none does, and each
    * entry's value is its `p=` field, Hive-unescaped ([[NullPartDir]]
    * is null) and cast to that type. A value thus reads back as it was
    * written: the string "00123" stays "00123".
    *
    * SCHEMA EVOLUTION (add-column): snapshots may mix commits written
    * with different column sets; the parquet reader returns NULL for a
    * column a file lacks. Type changes of an existing column are NOT
    * supported (same as Iceberg without a migration rewrite), and
    * neither is a plain file holding a column other entries are
    * partitioned on. `schemaOf` names further entries whose columns
    * the frame carries without reading their files (a pruned scan
    * keeps the snapshot's schema).
    */
  private def readEntries(spark: SparkSession, root: String, entries: Seq[String],
      schemaOf: Seq[String] = Nil): DataFrame = {
    val all = (entries ++ schemaOf).distinct
    if (all.isEmpty) return spark.emptyDataFrame
    def status(e: String): FileStatus = {
      val p = Paths.get(root, pathOf(e)).toAbsolutePath
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      new FileStatus(a.size, false, 1, 32L << 20 /* the local FS block */,
        a.lastModifiedTime.toMillis, new Path("file", null, p.toString))
    }
    // dirs in path order, the order footer inference merges files in,
    // so a dir reads the same with its record and without
    val dirs = all.map(e => stagedDirOf(pathOf(e))).distinct.sorted
    val records = dirs.map(d => d -> recordedSchema(root, d)).toMap
    lazy val inferred = new ParquetFileFormat().inferSchema(spark, Map("mergeSchema" -> "true"),
      all.filter(e => records(stagedDirOf(pathOf(e))).isEmpty).map(status)).getOrElse(new StructType())
    def dirSchema(d: String) = records(d).getOrElse(inferred)
    val fields = dirs.flatMap(dirSchema(_).fields).distinctBy(_.name)
    val partCols = all.flatMap(partColOf).distinct
    require(!all.filter(partOf(_).isEmpty).exists(e =>
      dirSchema(stagedDirOf(pathOf(e))).fieldNames.exists(partCols.contains)),
      s"$root: a plain file holds a partition column (${partCols.mkString(", ")})")
    val partitionSchema = StructType(partCols.map(c =>
      fields.find(_.name == c).getOrElse(StructField(c, StringType))))
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val listed = entries.map { e =>
      val values = partitionSchema.map { f =>
        partOf(e).filter(v => v != NullPartDir && partColOf(e).contains(f.name)).map(v =>
          Cast(Literal(ExternalCatalogUtils.unescapePathName(v)), f.dataType, Some(tz)).eval()).orNull
      }
      PartitionDirectory(InternalRow.fromSeq(values), Array(status(e)))
    }
    val index = new ManifestIndex(new Path("file", null, Paths.get(root).toAbsolutePath.toString),
      listed, partitionSchema)
    // every column nullable: one that some files lack reads as NULL
    def nullable(fs: Seq[StructField]) = StructType(fs.map(_.copy(nullable = true)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, nullable(partitionSchema),
      nullable(fields.filterNot(f => partCols.contains(f.name))), None,
      new ParquetFileFormat(), Map.empty)(spark))
  }

  /** `_staged/<uuid>` of an entry path. */
  private def stagedDirOf(path: String): String = path.split("/").take(2).mkString("/")

  /** The partition column of an entry with a `p=` field: the column
    * name of its `<col>=<value>` dir.
    */
  private def partColOf(e: String): Option[String] = partOf(e).map(_ =>
    ExternalCatalogUtils.unescapePathName(pathOf(e).split("/")(2).takeWhile(_ != '=')))

  /** Name of the per-staged-dir schema record: the schema of the frame
    * [[stage]] wrote (its partition column included), as JSON, written
    * before any manifest names the dir. The `_` prefix hides it from
    * directory listings.
    */
  private val SchemaRecord = "_schema.json"

  private def recordedSchema(root: String, stagedDir: String): Option[StructType] = {
    val p = Paths.get(root, stagedDir, SchemaRecord)
    if (!Files.isRegularFile(p)) None
    else scala.util.Try(DataType.fromJson(new String(Files.readAllBytes(p), "UTF-8")))
      .toOption.collect { case s: StructType => s }
  }

  /** Run `body` with `what` as the description of the Spark jobs it
    * starts (the per-job name the UI and [[graft.RunWitness]] show),
    * then restore the caller's description (a streaming query sets
    * its own around each micro-batch).
    */
  private def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(prev)
  }

  /** What [[stage]] wrote: the staged dir (relative to the root), its
    * manifest entries, its row count and, when a key filter was asked
    * for, the key hashes of every staged file (None when some file got
    * no filter).
    */
  private final case class Staged(dir: String, entries: Seq[String], rows: Long,
      keyHashes: Option[Array[Long]])

  /** Delete a staged dir that no manifest references (a lost commit
    * attempt's rewrite, an empty write).
    */
  private def dropStaged(root: String, s: Staged): Unit = {
    val dir = Paths.get(root, s.dir)
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().forEachRemaining(p => Files.deleteIfExists(p): Unit)
      finally walk.close()
    }
  }

  /** Stage `df` as immutable parquet files, invisible to readers
    * until committed, and return their manifest entries (see
    * [[files]]). With `partitionCol` the files land in Hive-style
    * `<col>=<value>` dirs and each entry carries its `p=` value, the
    * dir name (Spark writes an empty string as [[NullPartDir]], so it
    * reads back as null). `df`'s schema is recorded beside the files
    * ([[SchemaRecord]]). A write that produced no file leaves no dir
    * behind.
    *
    * ONE Spark job (more only when `df`'s own plan shuffles): `df`'s
    * plan goes straight to Spark's file writer with a [[FileStats]]
    * tracker beside the basic one, so the tasks that write the files
    * also count each file's rows, take its `zs=` min/max on every
    * column of `statsCols` (what [[scanWhere]] prunes with) and, with
    * `keyFilter`, hash its keys for a [[KeyFilter]] sidecar; nothing is
    * read back. The ordering tag comes from `df`'s schema, "num" for
    * numeric types and "str" otherwise, so the scan compares bounds
    * under the SAME ordering the stats were captured with. A rowless
    * file's filter rules out every key. `phase` names the write job,
    * and `maxRows` > 0 caps the rows of a file.
    */
  private def stage(df: DataFrame, root: String, partitionCol: Option[String],
      statsCols: Seq[String], keyFilter: Option[String] = None,
      phase: String = "stage", maxRows: Long = 0L): Staged = {
    val spark = ClassicConversions.castToImpl(df.sparkSession)
    val rel = s"_staged/${java.util.UUID.randomUUID()}"
    val out = Paths.get(root, rel).toAbsolutePath.toString
    val qe = df.queryExecution
    val plan = qe.executedPlan
    val resolver = spark.sessionState.conf.resolver
    def attr(c: String) = plan.output.find(a => resolver(a.name, c)).getOrElse(
      throw new IllegalArgumentException(s"no column $c among ${plan.output.map(_.name).mkString(", ")}"))
    val partCols = partitionCol.map(attr).toSeq
    val statAttrs = statsCols.map(attr)
    val stats = new FileStats(plan.output.filterNot(partCols.contains), partCols, statAttrs,
      keyFilter.map(attr), spark.sessionState.conf.sessionLocalTimeZone)
    val options = if (maxRows > 0) Map("maxRecordsPerFile" -> maxRows.toString) else Map.empty[String, String]
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val committer = FileCommitProtocol.instantiate(spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, out)
    described(spark, s"AtomicTable $phase") {
      SQLExecution.withNewExecutionId(qe, Some(s"AtomicTable $phase")) {
        FileFormatWriter.write(spark, plan, new ParquetFileFormat(), committer,
          FileFormatWriter.OutputSpec(out, Map.empty, plan.output), conf, partCols, None,
          Seq(new BasicWriteJobStatsTracker(new SerializableConfiguration(conf),
            BasicWriteJobStatsTracker.metrics), stats), options)
      }
    }
    def partFiles(dir: java.nio.file.Path): Seq[String] = listDir(dir)(
      _.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq)
    val entries = (partitionCol match {
      case None => partFiles(Paths.get(root, rel)).map(n => s"$rel/$n")
      case Some(pc) =>
        listDir(Paths.get(root, rel))(_.map(_.getFileName.toString)
          .filter(_.startsWith(s"$pc=")).toSeq)
          .flatMap { dn =>
            val value = enc(dn.substring(pc.length + 1))
            partFiles(Paths.get(root, rel, dn)).map(n => s"$rel/$dn/$n\tp=$value")
          }
    }).sorted
    if (entries.isEmpty) {
      val none = Staged(rel, Nil, 0L, keyFilter.map(_ => Array.empty[Long]))
      dropStaged(root, none)
      return none
    }
    Files.write(Paths.get(root, rel, SchemaRecord), df.schema.json.getBytes("UTF-8"))
    val perFile = entries.map(e => e -> stats.files.getOrElse(pathOf(e).stripPrefix(s"$rel/"),
      throw new IllegalStateException(s"the write reported no stats for ${pathOf(e)}"))).toMap
    val rows = perFile.values.map(_.rows).sum
    // a plain write's first task writes its file even without a row;
    // beside files with rows it serves no reader, and kept it would be
    // a filterless entry every later keyed write scans: it is left out
    val (live, empty) = entries.partition(e => rows == 0 || perFile(e).rows > 0)
    empty.foreach(e => Files.delete(Paths.get(root, pathOf(e))))
    def zoneMaps(s: FileStats.Stats): Seq[String] =
      statsCols.zip(statAttrs).zip(s.bounds).flatMap { case ((c, a), b) =>
        val ord = if (a.dataType.isInstanceOf[NumericType]) "num" else "str"
        b.map { case (mn, mx) => s"zs=${enc(c)},$ord,${enc(mn)},${enc(mx)}" }
      }
    // a file over the key cap gets no filter: an empty one would be a
    // false negative
    val hashes = live.map(perFile(_).keyHashes)
    keyFilter.foreach(k => live.zip(hashes).foreach {
      case (e, Some(hs)) =>
        KeyFilter.write(KeyFilter.sidecar(Paths.get(root, pathOf(e))), KeyFilter.build(k, hs))
      case _ =>
    })
    Staged(rel, live.map(e => (e +: zoneMaps(perFile(e))).mkString("\t")), rows,
      if (keyFilter.isDefined && hashes.forall(_.isDefined)) Some(hashes.flatten.flatten.toArray)
      else None)
  }

  /** The entry path (`_staged/...`) of a file an `input_file_name()`
    * names. That name is a URI, so the path is decoded first: a
    * partition dir whose Hive escaping holds a `%` then matches its
    * entry.
    */
  private def entryPathOf(file: String): Option[String] = {
    val p = scala.util.Try(new java.net.URI(file).getPath).getOrElse(file)
    val i = p.indexOf("_staged/")
    if (i < 0) None else Some(p.substring(i))
  }

  /** ONE atomic publish attempt of `files` as version `v`. Returns
    * true iff this writer's manifest landed. The publish is a hard
    * LINK of the fully-written temp file onto the version name:
    * link(2) is atomic AND create-exclusive (EEXIST when a concurrent
    * writer claimed `v` first) — unlike rename(2), which silently
    * REPLACES an existing target and would lose the winner's commit.
    * Readers can never observe a partial manifest: content is complete
    * before the name exists. On HDFS the equivalent seam is
    * `create(path, overwrite = false)`; object stores need a
    * conditional PUT / metastore CAS.
    */
  private def tryPublish(root: String, v: Int, files: Seq[String]): Boolean = {
    Files.createDirectories(commitsDir(root))
    val tmp = Files.createTempFile(commitsDir(root), s"inflight-v$v-", ".tmp")
    Files.write(tmp, files.mkString("\n").getBytes("UTF-8"))
    try {
      Files.createLink(manifestPath(root, v), tmp)
      Files.deleteIfExists(tmp)
      true
    } catch {
      // ONLY an existing target is a lost commit race worth retrying;
      // any other failure (unsupported links, permissions, IO) must
      // surface, or the caller's retry loop would spin forever
      case _: java.nio.file.FileAlreadyExistsException =>
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
        false
      case NonFatal(e) =>
        try Files.deleteIfExists(tmp) catch { case NonFatal(_) => }
        throw e
    }
  }

  /** The optimistic commit loop every retrying writer goes through:
    * read the head, let `next` compute the new snapshot's entries from
    * it (`Left(v)`: nothing to commit, return `v`), publish them as
    * head+1, and on a lost race recompute against the NEW head. A
    * loser thus picks up the winner's files (or re-derives its
    * rewrite from them) before retrying, so every commit lands
    * exactly once and none is lost — no lock, no coordination.
    * [[compact]] and [[clusterBy]] stay single-shot: they must never
    * retry over a concurrent commit.
    */
  @annotation.tailrec
  private def commit(root: String)(
      next: Option[Int] => Either[Int, Seq[String]]): Int = {
    val head = latestVersion(root)
    next(head) match {
      case Left(v) => v
      case Right(entries) =>
        val v = head.fold(0)(_ + 1)
        if (tryPublish(root, v, entries)) v else commit(root)(next)
    }
  }

  private def headFiles(root: String, head: Option[Int]): Seq[String] =
    head.fold(Seq.empty[String])(files(root, _))

  /** Append: new snapshot = head files + staged files, through
    * [[commit]], so concurrent appenders all survive.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
      statsCol: Option[String] = None): Int = {
    val staged = stage(df, root, None, statsCol.toSeq)
    // no rows staged → no commit: an empty first write must not create
    // a row-less table, and on an existing table appending an empty
    // file (or republishing the head alone) would bump the version for
    // a no-op. Row-level check, not files-level: a plain parquet write
    // of an empty frame still emits one schema-bearing part file, so
    // an empty entry list alone misses the common empty-append case.
    if (staged.rows == 0) dropStaged(root, staged)
    commit(root)(head =>
      if (staged.rows == 0) Left(head.getOrElse(-1))
      else Right(headFiles(root, head) ++ staged.entries))
  }

  /** Overwrite: new snapshot = staged files only. An empty overwrite
    * of an EXISTING table is a SCHEMA-PRESERVING TRUNCATE: the commit
    * keeps the empty part file the parquet writer produced, so the
    * 0-row snapshot still reads with the incoming frame's schema —
    * never a schema-less zero-file manifest (Iceberg-faithful: a
    * truncated table remains a table; cf. the reference's
    * `delta_to_iceberg.py:43-52`, whose tables always carry schema).
    * An empty FIRST write still refuses (-1): creating a table that
    * has never seen a row is almost always a caller bug, and it keeps
    * [[append]]'s no-empty-first-commit rule uniform.
    */
  def overwrite(spark: SparkSession, df: DataFrame, root: String): Int = {
    val staged = stage(df, root, None, Nil)
    if (staged.entries.isEmpty) return -1 // partitionless writer emitted nothing
    commit(root)(head =>
      if (head.isEmpty && staged.rows == 0) Left(-1) else Right(staged.entries))
  }

  /** Partitioned append: same protocol as [[append]], but files carry
    * their partition value in the manifest, so a partition predicate
    * prunes them in the scan ([[ManifestIndex]]).
    */
  def appendPartitioned(spark: SparkSession, df: DataFrame, root: String,
      partitionCol: String, statsCol: Option[String] = None): Int = {
    val staged = stage(df, root, Some(partitionCol), statsCol.toSeq).entries
    // nothing staged → no commit: an empty FIRST write must not
    // create a schema-less table (see append), and on an existing
    // table republishing the head alone would bump the version for a
    // no-op
    commit(root)(head =>
      if (staged.isEmpty) Left(head.getOrElse(-1))
      else Right(headFiles(root, head) ++ staged))
  }

  /** Materialize version `v` as a plain Hive-layout directory of HARD
    * LINKS under `<root>/_snap/v<v>` and return its path — a
    * zero-copy, listing-readable export of one committed snapshot.
    *
    * This is the bridge to catalogs that can only point at
    * directories (the offline v1 session catalog): point the catalog
    * name at the export, swap the pointer on the next commit
    * ([[Gold.writeTable]]), and readers get snapshot isolation from a
    * directory listing — no partial writes are ever linked, and a
    * reader mid-query on an old export keeps its files (links pin the
    * inodes) until the export is pruned. File names are prefixed with
    * their staging id, so links from different commits never collide.
    * Idempotent: re-exporting an existing version is a no-op per file.
    */
  def exportSnapshot(root: String, v: Int): String = {
    val dir = Paths.get(root, "_snap", s"v$v")
    Files.createDirectories(dir)
    files(root, v).foreach { e =>
      val rel = pathOf(e) // _staged/<id>/[<col>=<val>/]part-x.parquet
      val segs = rel.split("/")
      val tail = segs.drop(2)
      val destDir =
        if (tail.length > 1) dir.resolve(tail.dropRight(1).mkString("/"))
        else dir
      Files.createDirectories(destDir)
      val dest = destDir.resolve(s"${segs(1)}-${tail.last}")
      if (!Files.exists(dest))
        try Files.createLink(dest, Paths.get(root, rel))
        catch { case _: java.nio.file.FileAlreadyExistsException => }
    }
    dir.toString
  }

  /** Hive's directory name for a NULL partition value (and for an
    * empty string, which Spark writes the same way).
    */
  private val NullPartDir = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** MERGE-shaped upsert on `key`: matched target rows are replaced by
    * their source row, unmatched source rows are inserted ([[upsert]],
    * the source's keys the delete set). Re-running the same merge is
    * idempotent by content. Returns the committed version, or -1 when
    * there is nothing to commit (empty source on a nonexistent table);
    * an empty source commits nothing.
    */
  def merge(spark: SparkSession, df: DataFrame, root: String, key: String): Int =
    upsert(df, root, key, None, None, None).version

  /** Group-replacement MERGE: delete every target row whose `groupCol`
    * value appears in `groups`, then insert ALL of `df` — the
    * "replace this document's whole chunk set" semantics a row-keyed
    * upsert cannot express: a re-ingested doc with FEWER rows leaves
    * its stale higher-keyed rows behind under [[merge]], and a doc
    * that flipped from keep to drop leaves every old row. `groups`
    * may contain keys with no rows in `df` (a pure delete), and the
    * result may legitimately be EMPTY — that commits as a
    * schema-preserving 0-row snapshot (see [[overwrite]]), not a
    * schema-less manifest. Key filters are on `groupCol` and the
    * delete set is `groups` ([[upsert]]). Replaying the same call is
    * idempotent by content. Returns the committed version, or -1 when
    * there is nothing to commit (empty source on a nonexistent table).
    */
  def replaceGroups(spark: SparkSession, df: DataFrame, root: String,
      groupCol: String, groups: DataFrame): Int =
    upsert(df, root, groupCol, None, None, Some(groups)).version

  /** [[merge]] into a table partitioned on `partitionCol`: the source
    * stages into Hive-style `<col>=<value>` dirs, each entry carrying
    * its `p=` value (so a partition predicate prunes it in the scan),
    * with zone maps on `statsCol`. Which prior files rewrite is decided
    * per file ([[upsert]]), never by partition value, so a key that
    * moves partitions between batches leaves no old row behind.
    */
  def mergePartitioned(spark: SparkSession, df: DataFrame, root: String,
      key: String, partitionCol: String, statsCol: Option[String] = None): Int =
    upsert(df, root, key, Some(partitionCol), statsCol, None).version

  /** [[mergePartitioned]] that also reports the rows it inserted (a
    * streamed Gold micro-batch, [[Gold.mergeIncremental]]). With a
    * `firstWriter` ordering, a key that repeats within `df` keeps only
    * its first row under that ordering ([[upsert]]).
    */
  private[graft] def mergeBatch(spark: SparkSession, df: DataFrame, root: String,
      key: String, partitionCol: String, statsCol: Option[String],
      firstWriter: Seq[Column] = Nil): BatchCommit =
    upsert(df, root, key, Some(partitionCol), statsCol, None, firstWriter)

  /** The one keyed writer, behind [[merge]], [[replaceGroups]],
    * [[mergePartitioned]] and [[mergeBatch]]. `df` is staged ONCE as
    * this table's own files, each with a [[KeyFilter]] on `key`. The
    * delete set is the staged keys, or `groups` when given (one driver
    * collect of its keys and their `xxhash64`, the hash the filters
    * hold). Inside the commit loop, against the head it is about to
    * replace, the prior files that may hold a deleted key are picked
    * PER FILE ([[holdingDeletes]]). None picked: no deleted key is in
    * the table (a filter has no false negatives), so the commit is
    * head ++ staged, an append that reads no prior file. Otherwise
    * only the picked files are rewritten, without the deleted keys and
    * with new filters (at most [[KeyFilter.MaxKeys]] rows a file);
    * every other file carries over by path. A lost race re-picks
    * against the new head, and its rewrite is deleted.
    *
    * With a `firstWriter` ordering the source is deduplicated on
    * `key`: each key keeps its first row under the ordering. The
    * source is staged as it is, in files of at most
    * [[KeyFilter.MaxKeys]] rows, so every file has its key hashes, and
    * only when some hash repeats (a repeated key, or two null keys) is
    * the window run, over the staged files, into a second staged dir
    * that replaces the first. Equal keys hash alike, so distinct hashes
    * mean distinct keys, every row of which the window would keep: a
    * batch of distinct keys costs no shuffle.
    *
    * An empty source with an empty delete set commits nothing (the
    * head, -1 on a nonexistent table). Rowless staged files join the
    * snapshot only when nothing else is left, as a schema-preserving
    * 0-row snapshot; otherwise their dir is deleted. Returns the
    * version and the rows inserted: the staged rows, as the write
    * counted them ([[FileStats]]), minus the prior rows the rewrite
    * dropped, counted by an [[Observation]] on its read.
    */
  private def upsert(df: DataFrame, root: String, key: String, partitionCol: Option[String],
      statsCol: Option[String], groups: Option[DataFrame],
      firstWriter: Seq[Column] = Nil): BatchCommit = {
    val spark = df.sparkSession
    val cap = if (firstWriter.isEmpty) 0L else KeyFilter.MaxKeys.toLong
    val staged = stage(df, root, partitionCol, statsCol.toSeq, Some(key), maxRows = cap)
    val batch =
      if (firstWriter.isEmpty || staged.keyHashes.exists(allDistinct)) staged
      else {
        val rn = "__graft_first_writer"
        val first = readEntries(spark, root, staged.entries)
          .withColumn(rn, row_number().over(Window.partitionBy(col(key)).orderBy(firstWriter: _*)))
          .filter(col(rn) === 1).drop(rn)
        val deduped = stage(first, root, partitionCol, statsCol.toSeq, Some(key), "dedup", cap)
        dropStaged(root, staged)
        deduped
      }
    val deletes = groups.map { g =>
      // typed as the table's key, so the hashes are the ones its filters hold
      val keyCol = col(key).cast(df.schema(key).dataType).as(key)
      val got = g.select(keyCol, xxhash64(keyCol)).collect().distinct
      (got.map(_.getLong(1)), spark.createDataFrame(
        java.util.Arrays.asList(got.map(r => Row(r.get(0))): _*), g.select(keyCol).schema))
    }
    val hashes = deletes.fold(batch.keyHashes)(d => Some(d._1))
    lazy val keys = deletes.fold(readEntries(spark, root, batch.entries).select(col(key)))(_._2)
    if (batch.rows == 0 && hashes.exists(_.isEmpty)) {
      dropStaged(root, batch)
      return BatchCommit(latestVersion(root).getOrElse(-1), 0L)
    }
    var rewrite: Option[Staged] = None
    var dropped = 0L
    var published = Seq.empty[String]
    val v = commit(root) { head =>
      rewrite.foreach(dropStaged(root, _))
      rewrite = None
      dropped = 0L
      val prior = headFiles(root, head)
      val picked = holdingDeletes(spark, root, prior, key, hashes, keys).toSet
      if (picked.nonEmpty) {
        val read = new Observation()
        val r = described(spark, "AtomicTable rewrite") {
          stage(counted(readEntries(spark, root, prior.filter(picked)), read)
            .join(keys, Seq(key), "left_anti"), root, partitionCol, statsCol.toSeq, Some(key),
            "rewrite", KeyFilter.MaxKeys.toLong)
        }
        rewrite = Some(r)
        dropped = rowsOf(read) - r.rows
      }
      val live = prior.filterNot(picked) ++ (rewrite ++ Some(batch)).filter(_.rows > 0).flatMap(_.entries)
      published = if (live.nonEmpty) live else batch.entries
      if (picked.isEmpty && batch.rows == 0) Left(head.getOrElse(-1)) else Right(published)
    }
    (rewrite ++ Some(batch)).filterNot(_.entries.exists(published.contains))
      .foreach(dropStaged(root, _))
    BatchCommit(v, batch.rows - dropped)
  }

  /** What [[upsert]] committed: the version and the rows it inserted
    * rather than replaced.
    */
  final case class BatchCommit(version: Int, inserted: Long)

  /** True iff no hash repeats in `hashes`. */
  private def allDistinct(hashes: Array[Long]): Boolean = {
    val sorted = hashes.clone()
    java.util.Arrays.sort(sorted)
    (1 until sorted.length).forall(i => sorted(i) != sorted(i - 1))
  }

  /** The `prior` entries that may hold a key of the delete set: each
    * whose [[KeyFilter]] on `key` claims one of `hashes`, and each
    * without such a filter (an older writer, a file over the key cap)
    * that a file-granular key scan finds holding one of `keys`: the
    * `input_file_name()` of a semi-join against them. The scan runs
    * only when such entries exist. A filterless file found holding a
    * key takes the filterless files of its dir with it, so an older
    * writer's dir moves into the filtered layout in one rewrite
    * instead of costing a scan on every later commit. With `hashes`
    * None (a staged file over the key cap) no filter is probed and
    * every entry is scanned; a found file that matches no scanned
    * entry picks them all.
    */
  private def holdingDeletes(spark: SparkSession, root: String, prior: Seq[String],
      key: String, hashes: Option[Array[Long]], keys: DataFrame): Seq[String] = {
    val filterOf = prior.map(e => e -> hashes.flatMap(_ =>
      KeyFilter.read(KeyFilter.sidecar(Paths.get(root, pathOf(e)))).filter(_.column == key))).toMap
    val scanned = prior.filter(filterOf(_).isEmpty)
    val found: Set[String] =
      if (scanned.isEmpty) Set.empty
      else described(spark, "AtomicTable key scan") {
        readEntries(spark, root, scanned)
          .select(col(key), input_file_name().as("__file"))
          .join(keys, Seq(key), "left_semi").select("__file")
          .queryExecution.toRdd.mapPartitions(_.map(_.getUTF8String(0).toString).toSet.iterator)
          .collect().map(f => entryPathOf(f).getOrElse(f)).toSet
      }
    def dirOf(path: String) = path.substring(0, path.lastIndexOf('/'))
    val paths = scanned.map(pathOf).toSet
    val hitDirs = (if (found.subsetOf(paths)) found else paths).map(dirOf)
    prior.filter(e => filterOf(e).fold(hitDirs(dirOf(pathOf(e))))(f => hashes.get.exists(f.mightContain)))
  }

  /** Bound comparison under the ordering the stats were captured with
    * (the `zs=` ord tag): a numeric-looking STRING column has lexicographic
    * min/max ("100" < "9"), and comparing those numerically would
    * prune files that contain matching rows. ONE definition shared by
    * [[scanWhere]] and [[statsBounds]] so scan and bounds can never
    * disagree on ordering.
    */
  private def cmpOrd(ord: String, a: String, b: String): Int =
    if (ord == "num")
      (scala.util.Try(BigDecimal(a)), scala.util.Try(BigDecimal(b))) match {
        case (scala.util.Success(x), scala.util.Success(y)) => x.compare(y)
        case _ => a.compareTo(b)
      }
    else a.compareTo(b)

  /** Stats-pruned scan (zone maps / data skipping): the latest
    * snapshot restricted to files whose recorded [min, max] of
    * `column` intersects [lo, hi] — provably-outside files are
    * SKIPPED without being opened, then an exact residual filter
    * applies on the survivors. Entries without stats for `column`
    * read conservatively. Bounds compare under the ordering the stats
    * were captured with ([[cmpOrd]]; dates/timestamps in ISO form
    * order correctly as strings). This is the per-file complement of
    * partition pruning: partitions cut directories, zone maps cut
    * files within them. The kept files read with the whole snapshot's
    * schema, so a total prune, or kept files that all predate
    * `column`, still yields a typed (empty) frame.
    */
  def scanWhere(spark: SparkSession, root: String, column: String,
      lo: String, hi: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val all = files(root, v)
    val kept = all.filter { e =>
      zstatsOf(e, column) match {
        case Some((ord, mn, mx)) =>
          !(cmpOrd(ord, mx, lo) < 0 || cmpOrd(ord, mn, hi) > 0)
        case None => true
      }
    }
    val pruned = readEntries(spark, root, kept, schemaOf = all)
    val dt = pruned.schema(column).dataType
    pruned.filter(col(column) >= lit(lo).cast(dt)
      && col(column) <= lit(hi).cast(dt))
  }

  /** Global [min, max] of `column` across the latest snapshot, served
    * ENTIRELY from manifest zone-map stats — no file opens, no scan.
    * Defined only when every entry carries stats for the column (a
    * partial answer would be silently wrong); callers fall back to an
    * aggregate scan otherwise. The canonical use is an incremental
    * loader's high-watermark: O(manifest) instead of O(table).
    */
  def statsBounds(root: String, column: String): Option[(String, String)] = {
    val v = latestVersion(root).getOrElse(return None)
    val all = files(root, v)
    val stats = all.map(e => zstatsOf(e, column))
    if (all.isEmpty || stats.exists(_.isEmpty)) return None
    val s = stats.flatten
    val ord = s.head._1
    val byOrd = Ordering.fromLessThan[String]((a, b) => cmpOrd(ord, a, b) < 0)
    Some((s.map(_._2).min(byOrd), s.map(_._3).max(byOrd)))
  }

  /** Roll the table back to the state of snapshot `v` by COMMITTING
    * that snapshot's file list as a NEW version (Iceberg-style
    * rollback: history is preserved — the bad versions stay
    * time-travelable until [[vacuum]] expires them, and concurrent
    * writers race through the same optimistic publish as any commit).
    * Zero data I/O: only a manifest is written. No-op returning the
    * current version when the table is already at `v`'s STATE (file
    * list compared, not version number — so re-running a rollback,
    * e.g. from an idempotent recovery script, never stacks redundant
    * versions).
    */
  def rollback(root: String, v: Int): Int = {
    val snapshot = files(root, v) // throws if v was never committed
    commit(root) {
      case None =>
        throw new IllegalStateException(s"no committed version under $root")
      case Some(cur) =>
        if (files(root, cur) == snapshot) Left(cur) else Right(snapshot)
    }
  }

  // ── Named refs (Iceberg-style tags) ──────────────────────────────

  private def refsDir(root: String) = Paths.get(root, "_refs")
  private val RefNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  /** Pin a human name to a committed version (Iceberg tag twin:
    * `ALTER TABLE … CREATE TAG`). One file per ref under
    * `<root>/_refs/<name>.ref`; published complete-before-named via a
    * temp file + rename(2), which is atomic on POSIX — here REPLACE
    * semantics are exactly what re-tagging wants (unlike manifest
    * commits, where the link(2) create-exclusive publish guards the
    * version race). Tagged versions survive [[vacuum]] regardless of
    * `keepLast` — the tag IS the retention declaration.
    *
    * Crash hygiene: a process dying between createTempFile and the
    * atomic move leaves an `inflight-*.tmp` orphan in `_refs/`.
    * [[refs]] never reads them (only `*.ref` names resolve), and
    * [[vacuum]] reaps any older than its retention window.
    *
    * Concurrency model: tagging is a TABLE-MAINTAINER operation, same
    * single-maintainer assumption as [[vacuum]]/[[compact]] (data
    * WRITERS race safely through the manifest link(2) publish; the
    * maintenance surface does not). A tag created concurrently with an
    * in-flight vacuum can still lose its pinned version — vacuum reads
    * refs as late as possible to narrow that window, but only
    * serializing maintenance closes it.
    */
  def tag(root: String, name: String, v: Int): Unit = {
    require(RefNameRe.pattern.matcher(name).matches(),
      s"ref name must match ${RefNameRe.pattern}: $name")
    files(root, v): Unit // throws if v was never committed
    Files.createDirectories(refsDir(root))
    val tmp = Files.createTempFile(refsDir(root), s"inflight-$name-", ".tmp")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, refsDir(root).resolve(s"$name.ref"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Tag the current head. Returns the version tagged. */
  def tag(root: String, name: String): Int = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    tag(root, name, v)
    v
  }

  /** All refs as name → version. */
  def refs(root: String): Map[String, Int] = {
    val dir = refsDir(root)
    if (!Files.isDirectory(dir)) return Map.empty
    listDir(dir)(_.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.endsWith(".ref")) None
      else scala.util.Try(new String(Files.readAllBytes(p), "UTF-8")
        .trim.toInt).toOption.map(n.stripSuffix(".ref") -> _)
    }.toSeq).toMap
  }

  /** Read the snapshot a ref points at (time travel by name). */
  def readRef(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, refs(root).getOrElse(name,
      throw new IllegalArgumentException(s"no such ref: $name")))

  /** Drop a ref; the version it pinned becomes vacuumable again. */
  def dropRef(root: String, name: String): Boolean =
    Files.deleteIfExists(refsDir(root).resolve(s"$name.ref"))

  /** Snapshot expiry (the Iceberg `expire_snapshots` twin): drop all
    * but the newest `keepLast` manifests, then delete every staged
    * data file no surviving manifest references AND older than
    * `retentionMs` (the age gate protects a concurrent writer's
    * staged-but-uncommitted files). Deletion order is crash-safe:
    * manifests go first, so a reader can never resolve a version
    * whose files are being removed, and a crash mid-vacuum leaves
    * only harmless orphans for the next vacuum. Returns
    * (#manifests dropped, #data files deleted).
    */
  def vacuum(root: String, keepLast: Int = 1,
      retentionMs: Long = 3600000L): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    val dir = commitsDir(root)
    if (!Files.isDirectory(dir)) return (0, 0)
    val versions = listDir(dir)(_.flatMap(_.getFileName.toString match {
      case ManifestRe(v) => Some(v.toInt)
      case _ => None
    }).toSeq.sorted)
    val (expired0, kept0) = versions.splitAt(math.max(0, versions.length - keepLast))
    // a named ref pins its version through expiry: the tag is the
    // retention declaration (Iceberg semantics — expire_snapshots
    // never drops a snapshot a ref can still reach). Read refs as LATE
    // as possible — just before the deletion below — so a tag that
    // landed while vacuum was listing manifests still pins (the
    // remaining window is documented on [[tag]]: maintenance ops
    // assume a single maintainer)
    val pinned = refs(root).values.toSet
    val (saved, expired) = expired0.partition(pinned)
    val kept = kept0 ++ saved
    // manifest entries carry tagged metadata fields; liveness is
    // decided on the path alone
    val keepPaths = kept.flatMap(files(root, _)).map(pathOf).toSet
    expired.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    val stagedRoot = Paths.get(root, "_staged")
    var removed = 0
    if (Files.isDirectory(stagedRoot)) {
      val rootPath = Paths.get(root)
      val walk = Files.walk(stagedRoot)
      try {
        val cutoff = System.currentTimeMillis() - retentionMs
        val it = walk.iterator()
        while (it.hasNext) {
          val f = it.next()
          val n = f.getFileName.toString
          if (n.startsWith("part-") && n.endsWith(".parquet")) {
            val rel = rootPath.relativize(f).toString
            // retention window: a staged-but-not-yet-committed file of
            // a CONCURRENT writer is unreferenced too — age-gating
            // keeps vacuum from corrupting an in-flight commit
            // (Delta/Iceberg use the same guard)
            if (!keepPaths.contains(rel) &&
                Files.getLastModifiedTime(f).toMillis < cutoff) {
              Files.deleteIfExists(f)
              removed += 1
            }
          }
        }
      } finally walk.close()
      // second pass, DEEPEST-FIRST: sidecars and emptied dirs. The
      // part-file pass above leaves .part-*.parquet.crc and .bloom,
      // _SUCCESS (+ its .crc), the _schema.json record and the emptied
      // _staged/<uuid> dirs behind — one orphan dir plus sidecars per
      // expired commit, forever, which defeats vacuum's own purpose of
      // bounding table-root growth. A .X.crc or .X.bloom dies only once
      // X itself is gone (kept data keeps its checksum and filter);
      // _SUCCESS dies only in a dir with no parquet left, a schema
      // record only once no parquet is left anywhere under its dir;
      // all behind the same age gate as the data. Empty dirs then
      // unlink bottom-up (deepest-first ordering makes parents empty
      // by the time they are visited).
      val walk2 = Files.walk(stagedRoot)
      try {
        val cutoff = System.currentTimeMillis() - retentionMs
        walk2.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().forEachRemaining { f =>
            val n = f.getFileName.toString
            if (Files.isDirectory(f)) {
              if (f != stagedRoot) {
                // deleteIfExists on a non-empty dir throws — probe first
                val empty = listDir(f)(_.isEmpty)
                if (empty) { try Files.deleteIfExists(f): Unit
                  catch { case _: java.nio.file.DirectoryNotEmptyException => } }
              }
            } else {
              val aged = Files.getLastModifiedTime(f).toMillis < cutoff
              val orphanSidecar = n.startsWith(".") &&
                Seq(".crc", ".bloom").find(n.endsWith).exists(ext =>
                  !Files.exists(f.resolveSibling(n.stripPrefix(".").stripSuffix(ext))))
              val orphanSuccess = n == "_SUCCESS" &&
                listDir(f.getParent)(_.forall(p =>
                  !p.getFileName.toString.endsWith(".parquet")))
              // a schema record serves every partition dir below it
              val orphanSchema = n == SchemaRecord && {
                val below = Files.walk(f.getParent)
                try below.noneMatch(_.getFileName.toString.endsWith(".parquet"))
                finally below.close()
              }
              if (aged && (orphanSidecar || orphanSuccess || orphanSchema))
                Files.deleteIfExists(f): Unit
            }
          }
      } finally walk2.close()
    }
    // prune _snap exports of expired versions: each export hard-links
    // every data file of its snapshot, so leaving them would pin the
    // inodes forever (vacuuming _staged would free zero bytes) and
    // grow one directory per version unboundedly. Keyed off the KEPT
    // set, so pinned (tagged) versions keep their exports; an export
    // whose manifest never existed (crash mid-export) is expired too.
    val snapRoot = Paths.get(root, "_snap")
    if (Files.isDirectory(snapRoot)) {
      val keptSet = kept.toSet
      // two guards against a CONCURRENT writer's export (the same
      // race the _staged age gate covers): (1) never touch a version
      // newer than this vacuum's manifest listing — a commit that
      // landed after the listing has an export vacuum must not see as
      // "unreferenced"; (2) age-gate the delete, so a half-built
      // export of a just-expired version (keepLast=1 under rapid
      // commits) survives until a later vacuum finds it old AND
      // still expired
      val maxListed = versions.lastOption.getOrElse(-1)
      val snapCutoff = System.currentTimeMillis() - retentionMs
      listDir(snapRoot)(_.filter { p =>
        p.getFileName.toString match {
          case SnapDirRe(v) =>
            val vi = v.toInt
            !keptSet.contains(vi) && vi <= maxListed &&
              Files.getLastModifiedTime(p).toMillis < snapCutoff
          case _ => false
        }
      }.toSeq).foreach { dir =>
        val walk = Files.walk(dir)
        try {
          // depth-first (children before parents) so dirs delete clean
          val it = walk
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator()
          while (it.hasNext) {
            val f = it.next()
            if (Files.isRegularFile(f)) removed += 1
            Files.deleteIfExists(f)
          }
        } finally walk.close()
      }
    }
    // reap inflight-*.tmp orphans (a crashed tag() or tryPublish left
    // them); the same age gate protects a concurrently-running writer
    sweepTmpOrphans(refsDir(root), retentionMs)
    sweepTmpOrphans(commitsDir(root), retentionMs)
    (expired.length, removed)
  }

  private val SnapDirRe = "^v(\\d+)$".r

  /** Delete `*.tmp` files in `dir` older than `retentionMs` — crash
    * leftovers from the temp-then-atomic-publish pattern. Never
    * matches a published name (`*.ref` / manifest), so this can only
    * remove content no reader resolves.
    */
  private def sweepTmpOrphans(dir: java.nio.file.Path, retentionMs: Long): Unit = {
    if (!Files.isDirectory(dir)) return
    val cutoff = System.currentTimeMillis() - retentionMs
    listDir(dir)(_.filter { p =>
      p.getFileName.toString.endsWith(".tmp") &&
        (scala.util.Try(Files.getLastModifiedTime(p).toMillis < cutoff)
          .getOrElse(false))
    }.toSeq).foreach(p =>
      try Files.deleteIfExists(p): Unit catch { case NonFatal(_) => })
  }

  /** Small-file compaction — Iceberg's `rewrite_data_files` twin:
    * rewrite the head snapshot into ~`targetFileBytes`-sized files and
    * commit the SAME rows as a new version listing only the compacted
    * files. Streaming/micro-batch appends accrete a read-amplification
    * tax (every reader opens every tiny file); compaction pays it down
    * without blocking readers — old versions stay readable (time
    * travel) until vacuumed.
    *
    * Returns the new version, or −1 when there is nothing to do (no
    * table, or already at/below the target file count) or the head
    * moved mid-rewrite: compaction validates against the snapshot it
    * read and NEVER retries over a concurrent writer's commit —
    * recompacting the stale snapshot would silently drop the new rows.
    * The caller simply re-runs on the new head; the abandoned staged
    * files are unreferenced and reaped by [[vacuum]].
    *
    * With `partitionCol`, rows hash-repartition ON the partition
    * column so each Hive dir gets exactly one writer → one file per
    * partition (more past [[KeyFilter.MaxKeys]] rows when the table
    * keeps key filters); layout, (optional) zone-map stats and key
    * filters are regenerated with the same knobs the writers use.
    */
  def compact(spark: SparkSession, root: String,
      partitionCol: Option[String] = None, statsCol: Option[String] = None,
      targetFileBytes: Long = 128L << 20): Int = {
    val v = latestVersion(root).getOrElse(return -1)
    val prior = files(root, v)
    val bytes = prior.map(e => Files.size(Paths.get(root, pathOf(e)))).sum
    val targetFiles =
      math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (prior.length <= targetFiles) return -1 // already compact
    val snapshot = readVersion(spark, root, v)
    val laidOut = partitionCol.fold(snapshot.repartition(targetFiles))(pc =>
      snapshot.repartition(targetFiles, col(pc)))
    // files that carried key filters keep them (on the same column, at
    // most MaxKeys rows a file, so every file gets one): a key-disjoint
    // batch still appends after the compaction
    val key = prior.iterator
      .flatMap(e => KeyFilter.read(KeyFilter.sidecar(Paths.get(root, pathOf(e))))).nextOption().map(_.column)
    val staged = stage(laidOut, root, partitionCol, statsCol.toSeq, key,
      maxRows = if (key.isDefined) KeyFilter.MaxKeys.toLong else 0L).entries
    if (tryPublish(root, v + 1, staged)) v + 1 else -1
  }

  /** Incremental snapshot-diff read (the Iceberg incremental-append
    * scan twin): rows ADDED between `fromV` (exclusive; -1 = before
    * the first commit) and `toV` (inclusive), resolved purely from
    * manifests — only the added files are opened, so a consumer
    * tailing a 100 TB table pays for its delta, not the table.
    *
    * Defined only over append-only ranges. Manifests don't record an
    * operation type, so rewrites are detected STRUCTURALLY: an
    * append-only commit strictly grows the file set, while
    * merge/compact/clusterBy/overwrite drop predecessor files — any
    * dropped file in the range makes row-level "what's new" ambiguous
    * (rewritten files mix carried-over and fresh rows), and this
    * throws instead of answering wrong, exactly as Iceberg's
    * incremental scan refuses replace/overwrite snapshots.
    */
  def appendedBetween(spark: SparkSession, root: String,
      fromV: Int, toV: Int): DataFrame = {
    require(fromV >= -1 && fromV <= toV, s"bad version range $fromV..$toV")
    for (v <- math.max(fromV + 1, 1) to toV) {
      val prev = files(root, v - 1).map(pathOf).toSet
      val cur = files(root, v).map(pathOf).toSet
      if (!prev.subsetOf(cur))
        throw new IllegalStateException(
          s"version $v rewrote files (merge/compact/cluster/overwrite); " +
            "incremental append read is undefined across it")
    }
    val base: Set[String] =
      if (fromV < 0) Set.empty else files(root, fromV).map(pathOf).toSet
    val head = files(root, toV)
    // the head's schema survives an empty delta
    readEntries(spark, root, head.filterNot(e => base.contains(pathOf(e))), schemaOf = head)
  }

  /** Z-ORDER clustering rewrite (the Delta `OPTIMIZE ZORDER BY` /
    * Iceberg `rewrite_data_files(sort_order => zorder(...))` twin):
    * rewrite the latest snapshot ordered by the interleaved-bit
    * z-value of `cols`, so rows close in EVERY clustered dimension
    * land in the same files and the per-file multi-column zone maps
    * ([[zstatsOf]]) prune on ANY of the clustered columns — a
    * lexicographic sort only ever serves its leading column.
    *
    * Mechanics: each column is rank-bucketed through its own
    * distributed approx-quantile boundaries (driver state =
    * `2^bitsPerCol - 1` doubles per column, independent of row count —
    * quantile buckets keep skewed distributions balanced where uniform
    * width_bucket ranges would collapse); bucket bits interleave into
    * one long; `repartitionByRange` + `sortWithinPartitions` on the
    * z-value lay rows out contiguously (one range shuffle + local
    * sort, the same cost shape as the built-in sort-based write).
    * Numeric columns only (rank-bucketing strings would need a global
    * dictionary); unpartitioned tables (Hive partition dirs already
    * fix file placement — cluster WITHIN a partition by calling on
    * that slice's own table). Same head-validated publish as
    * [[compact]]: losing a race to a concurrent writer returns -1 and
    * the caller re-runs against the new head; rows are never changed,
    * only laid out. Old versions stay readable (time travel).
    */
  def clusterBy(spark: SparkSession, root: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20, bitsPerCol: Int = 8): Int = {
    require(cols.nonEmpty && cols.size * bitsPerCol <= 62,
      s"${cols.size} cols x $bitsPerCol bits must fit a long")
    val v = latestVersion(root).getOrElse(return -1)
    val prior = files(root, v)
    val snapshot = readVersion(spark, root, v)
    cols.foreach { c =>
      require(snapshot.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"clusterBy needs numeric columns, $c is ${snapshot.schema(c).dataType}")
    }
    val buckets = 1 << bitsPerCol
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds: Map[String, Array[Double]] = cols.map { c =>
      c -> snapshot.select(col(c).cast("double").as(c)).na.drop()
        .stat.approxQuantile(c, probs, 0.001)
    }.toMap
    val k = cols.size
    def bucketOf(c: String): Column = {
      // quantile-rank bucket: #boundaries <= value (codegen'd filter
      // over a literal array; nulls rank 0). Duplicate boundaries
      // (heavy skew) just skip codes — ordering stays monotone.
      val b = bounds(c).distinct.sorted.toSeq
      if (b.isEmpty) lit(0L)
      else size(filter(typedlit(b), x => x <= col(c).cast("double")))
        .cast("long")
    }
    val z = cols.zipWithIndex.flatMap { case (c, j) =>
      val bc = bucketOf(c)
      (0 until bitsPerCol).map { i =>
        shiftleft(shiftright(bc, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
    val bytes = prior.map(e => Files.size(Paths.get(root, pathOf(e)))).sum
    val targetFiles =
      math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val rewritten = snapshot.withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val staged = stage(rewritten, root, None, cols).entries
    if (tryPublish(root, v + 1, staged)) v + 1 else -1
  }

}
