package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import graft.functions.GraftFunctions

/** The library's session entry point: a SparkSession preconfigured the
  * way every graft operator expects — UTC, AQE on (runtime coalescing
  * + skew-join splitting), shuffle width sized to the machine rather
  * than Spark's default 200, and the graft native functions installed.
  *
  * On a real cluster the same knobs apply; only `master` and the
  * shuffle width change (set `spark.sql.shuffle.partitions` ≈ 2–3× the
  * executor-core count, and `spark.sql.files.maxPartitionBytes` so a
  * scan task's partition fits comfortably in executor memory).
  */
object GraftSession {

  /** Local-lake I/O without forked processes. Without `libhadoop` (the
    * Spark distribution ships none) Hadoop's local FileSystem forks a
    * `chmod` for every file and directory it creates, twice with the
    * `.crc` sidecar, and Spark's default FileContext checkpoint
    * manager forks `readlink` on metadata-log renames.
    * Measured in one JVM on an idle 4-core VM: a forked
    * `setPermission` 3-4 ms against 0.02-0.04 ms through nio;
    * `FileContext.rename` about 27 ms against under 1 ms for
    * `FileSystem.exists` + `rename`. One perfbench run forked 834
    * processes on `pipeline_batch`, 420 on `stream_gold` and 343 on
    * `query_mix`; with these two settings, none.
    *  - `fs.file.impl`: [[NioLocalFileSystem]] sets the same nine rwx
    *    bits through `java.nio` (the sticky bit and non-POSIX
    *    filesystems take the stock path); `ChecksumFileSystem` still
    *    wraps it, so `.crc` sidecars and checksum checks are unchanged.
    *  - the FileSystem checkpoint manager renames with
    *    `FileSystem.rename`. A local rename is atomic, and the
    *    FileContext manager's no-overwrite rename is the same
    *    check-then-rename, so no guarantee is lost. (On an object
    *    store neither manager's rename is atomic.)
    * Hadoop caches a FileSystem per scheme for the JVM: a `file:`
    * FileSystem created before the first session keeps serving.
    */
  val localIo: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName)

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // the driver corpus' events.parquet is TIMESTAMP(NANOS); read as
      // raw longs engine-wide (Tables.load converts) — set here, not in
      // the loader, so loading never mutates a shared session
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner reclaims shuffle files / broadcast blocks only
      // after their JVM refs are collected; a long multi-query session
      // can otherwise run dozens of entries before the default 30min
      // periodic GC lets any of it go (the r3 bench-wobble post-mortem)
      .config("spark.cleaner.periodicGC.interval", "2min")
      // Janino codegen cache (static conf — build-time only). The
      // default 100 entries is smaller than one composite pipeline's
      // fragment working set (q86 compiles 92), so repeated executions
      // self-evict and re-compile ~41 fragments EVERY run — measured
      // as 8–50 s of HotSpot JIT per q86 execution and the dominant
      // term of the r7 x10 bench wobble (tools/ProfileEntry's
      // janino_compiles row: 41/run at 100 entries, 0/run once the
      // cache fits). On a cluster the same churn repeats per executor
      // per job. 1000 was A/B'd against 256 over the full 44-entry
      // bench: at 256 the x10 probe phase evicts the x30 entries'
      // fragments and the bench tail recompiles (x30_q65 run-1
      // janino_compiles=60, entry 17.4s); at 1000 the whole sequence's
      // roster stays cached (janino_compiles 0 everywhere after first
      // touch, x30_q65 6.1s — the best sf0.1 measurement on record)
      // and the pinned-code footprint peaks at 131 MB of code cache
      // (diag code_cache_mb), far from any flushing regime.
      // The cache key is (class loader, code text): the driver and the
      // executor threads load through different class loaders, so in
      // local mode every new body compiles twice, and a literal that
      // changes per batch (a micro-batch timestamp, a watermark) makes
      // every batch's bodies new — graft binds such values by
      // reference (graft.functions.BoundValue) instead.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // ObjectHashAggregate (every typed Aggregator: BoundedCollect's
      // LSH bucket collect, KMV/CMS/Bloom sketches) falls back to
      // SORT-based aggregation once a task's hash map passes this many
      // groups — the default 128 means the minhash band aggregation
      // (~16 nearly-unique band keys per doc) ALWAYS degenerated into
      // a full sort of the band stream on both the map and reduce
      // sides (r21 profiling: the dominant term of the x30 candidate
      // phase). 1M groups/task keeps the hash path for any sanely
      // partitioned load: per-task group count is (distinct keys /
      // shuffle partitions), and production sizes partitions so tasks
      // hold well under 1M groups; the graft aggregator buffers are
      // all O(cap)/O(sketch)-bounded, so 1M of them is ~100 MB against
      // the 16 g executor heap. A memory-tight deployment chains its
      // own `.config(...)` on this builder; the threshold is also a
      // runtime SQL conf a session can set.
      // Buffer-size audit (r22, ADVICE item): the only MULTI-GROUP
      // typed aggregation in the repo is BoundedCollect (BoundedBuf,
      // ≤ 8 KB/group at the default cap) — every fat-buffer sketch
      // (BloomAggregator 128 KB at 2^20 bits, CountMin 8 KB,
      // MisraGries, KMV) is used ONLY as a single-group global
      // aggregate, so the raised threshold exposes at most one such
      // buffer per task. A future high-cardinality groupBy over a
      // sketch aggregator must either lower this threshold for its
      // session or scope its own; (groups/task)×(buffer bytes) is the
      // number to budget against the executor heap.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config(localIo)

  /** Build (or reuse) the session and ensure graft functions are
    * registered even when the session pre-existed without the
    * extensions config.
    */
  def create(master: String = "local[*]",
      shufflePartitions: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
