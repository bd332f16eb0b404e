package graft

import org.apache.spark.sql.DataFrame

/** Disk-staged materialization for intra-query reuse.
  *
  * Operators that feed one intermediate into several downstream
  * consumers used to `persist()` it — correct, but when the persisted
  * frame is embedded in the RETURNED plan the cache entry outlives the
  * query: the caller materializes the result, nothing inside the query
  * can unpersist after that, and only a harness-level `clearCache()`
  * reaps it. Verify/Bench do exactly that, so the gates were clean,
  * but a long-lived session embedding the registry (a notebook, a
  * server) accumulates dead cache entries — the round-3 ADVICE/VERDICT
  * finding.
  *
  * Staging to a session-temp parquet gives the same execute-once
  * guarantee with ZERO cache-manager state: the write is the single
  * materialization, every consumer re-reads a columnar file (page-
  * cache-warm locally; on a cluster this is the ordinary
  * stage-to-object-store idiom), and the read-back also TRUNCATES
  * LINEAGE — iterative algorithms get bounded plans where `persist()`
  * would let them grow per round. Determinism improves too: a cache
  * entry can be evicted and silently recomputed mid-query; a staged
  * file cannot diverge from what was counted.
  *
  * Cost: one parquet round-trip of an OUTPUT-SCALE frame — every call
  * site stages candidate pairs, bucketed vectors, or per-doc digests,
  * all far smaller than the corpus they were derived from. Temp dirs
  * are tracked and deleted on JVM exit.
  */
object Staging {

  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tracked.forEach { p =>
        try deleteRecursively(p) catch { case _: Throwable => }
      }
    }))
  }

  /** Register an externally created temp dir for the JVM-exit sweep —
    * for staging-adjacent artifacts built outside [[checkpoint]] (the
    * bench's scaled corpora). Before this, every Bench/profiler run
    * left its x10/x30 corpus dirs behind for the host's tmp-reaper.
    */
  def trackForCleanup(p: java.nio.file.Path): Unit = { tracked.add(p): Unit }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      // Files.list holds an open directory stream until close() — in
      // the per-micro-batch checkpointScoped path an unclosed stream
      // leaks one fd per directory per batch until the process hits
      // ulimit (the exit-hook path never noticed, it dies anyway)
      val s = Files.list(p)
      try s.forEach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  /** Staging root: `GRAFT_STAGE_DIR` (env) when set, else the JVM temp
    * dir. local[*] is fine with the default; a MULTI-NODE deployment
    * must point this at storage every executor and the driver share
    * (object store / NFS) — a node-local path would scatter staged
    * partitions across hosts and truncate every operator built on
    * staging.
    */
  private def stageRoot: Option[java.nio.file.Path] =
    sys.env.get("GRAFT_STAGE_DIR").map { r =>
      val p = java.nio.file.Paths.get(r)
      java.nio.file.Files.createDirectories(p)
      p
    }

  private def mkStageDir(tag: String): java.nio.file.Path = stageRoot match {
    case Some(root) =>
      java.nio.file.Files.createTempDirectory(root, s"graft-stage-$tag-")
    case None =>
      java.nio.file.Files.createTempDirectory(s"graft-stage-$tag-")
  }

  /** The one staging round trip: make a tracked temp dir, write `df`
    * into it and return the dir with a reader over it. A failed write
    * releases its dir at once. The reader takes `df`'s schema instead
    * of inferring it from the footers: inference is a Spark job of its
    * own per call, and a file source relaxes a given schema to
    * all-nullable exactly as it does an inferred one.
    */
  private def stageDir(df: DataFrame, tag: String)
      : (java.nio.file.Path, DataFrame) = {
    val dir = mkStageDir(tag)
    tracked.add(dir)
    try {
      df.write.mode("overwrite").parquet(dir.toString)
      (dir, df.sparkSession.read.schema(df.schema).parquet(dir.toString))
    } catch { case e: Throwable => release(dir); throw e }
  }

  /** Delete a staged dir now. Untracked only after a SUCCESSFUL delete
    * — if the delete throws (fs hiccup, concurrent reader), the dir
    * stays registered so the JVM-exit hook retries instead of
    * orphaning the files.
    */
  private def release(dir: java.nio.file.Path): Unit =
    try { deleteRecursively(dir); tracked.remove(dir): Unit }
    catch { case _: Throwable => }

  /** Materialize `df` once into a temp parquet dir; return a reader
    * over it. All columns come back nullable (parquet round-trip) —
    * same as any staged table read, and invisible to value semantics.
    */
  def checkpoint(df: DataFrame, tag: String): DataFrame = stageDir(df, tag)._2

  /** [[checkpoint]] plus the staged row count read from the parquet
    * FOOTERS on the driver — no `count()` job. Several operators need
    * the materialized size right after staging (the minhash broadcast
    * guard, the connected-components hybrid cutoff); a Spark count()
    * job over a file written milliseconds ago costs a full
    * schedule/launch round-trip per call, which at the 1× bench scale
    * is a measurable slice of the whole entry (r21; guide §1.2 —
    * remove work, then tune). Footer reads are O(files) driver work on
    * an OUTPUT-SCALE artifact, the same metadata the count() job
    * would have planned over.
    */
  def checkpointCounted(df: DataFrame, tag: String): (DataFrame, Long) = {
    val (dir, staged) = stageDir(df, tag)
    (staged, parquetRowCount(dir))
  }

  /** Sum of footer record counts across a staged dir's parquet files. */
  private def parquetRowCount(dir: java.nio.file.Path): Long = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    finally s.close()
  }

  /** Global sort of an output-scale result whose PLAN is expensive.
    *
    * `expensive.orderBy(keys)` executes the expensive plan ~twice: the
    * range exchange's boundary sampling traverses the child before the
    * real pass does (AQE does not exempt the sampling traversal), and
    * the two passes race the host — measured on the x30 minhash probe
    * as verify-join 2.6 s vs verify-join+sort 4.5–28 s (the r5/r6
    * committed one-entry bench stalls are this shape). Staging the
    * result first bounds the sort's input to the staged file: the
    * sample pass and the sort pass each read output-scale parquet, and
    * the expensive plan runs exactly once, into the stage write.
    *
    * Only worth it when the result is far smaller than the work that
    * produced it (candidate pairs, per-doc digests, audit rows — the
    * registry's text/dedup family); a cheap plan pays more for the
    * parquet round-trip than the second traversal costs.
    */
  def stagedSort(df: DataFrame, tag: String)(
      keys: org.apache.spark.sql.Column*): DataFrame =
    checkpoint(df, tag).orderBy(keys: _*)

  /** [[stagedSort]] for callers that KNOW an upper bound on the result
    * rows (r22, guide §2.4): below `smallLimit` the result is globally
    * sorted by a single-partition shuffle + in-partition sort — the
    * child executes exactly ONCE (no range-sampler second traversal,
    * which is what stagedSort's parquet round-trip existed to avoid)
    * and the output-scale frame never touches disk. Total order is
    * identical to `orderBy` (one partition trivially satisfies the
    * range contract). Above the limit, the staged path takes over —
    * a single-task sort of an unbounded result would serialize, so
    * the bound must be real (the minhash callers pass the staged
    * candidate count, an upper bound on verified pairs by
    * construction).
    */
  def boundedSort(df: DataFrame, rowBound: Long, tag: String,
      smallLimit: Long = 1L << 20)(
      keys: org.apache.spark.sql.Column*): DataFrame =
    if (rowBound <= smallLimit)
      df.repartition(1).sortWithinPartitions(keys: _*)
    else stagedSort(df, tag)(keys: _*)

  /** Run `body` with a checkpoint-compatible stager whose EVERY staged
    * dir is deleted when `body` returns — the multi-stage sibling of
    * [[checkpointScoped]] for call paths that stage internally (e.g.
    * [[graft.ext.Dedup.incrementalDupPairs]] staging its candidate
    * pairs) but are fully consumed inside a per-micro-batch block. A
    * streaming sink calling such a path through the plain
    * [[checkpoint]] would leak one temp dir per batch for the process
    * lifetime; through `scope` the batch reclaims them all. Frames
    * read from scope-staged dirs must not escape `body`.
    */
  def scope[A](body: ((DataFrame, String) => DataFrame) => A): A = {
    val dirs = scala.collection.mutable.ListBuffer[java.nio.file.Path]()
    val stager = (df: DataFrame, tag: String) => {
      val (dir, staged) = stageDir(df, tag)
      dirs.synchronized { dirs += dir }
      staged
    }
    try body(stager)
    finally dirs.synchronized(dirs.toList).foreach(release)
  }

  /** [[checkpoint]] with a bounded lifetime: the staged dir is deleted
    * as soon as `use` returns, not at JVM exit. For REPEATED staging
    * in a long-lived process (a per-micro-batch delta in a streaming
    * sink) the exit-hook variant accumulates one dir per call for the
    * process lifetime; this one holds exactly one at a time. The
    * staged frame must be fully consumed inside `use` — the files are
    * gone afterwards.
    */
  def checkpointScoped[A](df: DataFrame, tag: String)(use: DataFrame => A): A = {
    val (dir, staged) = stageDir(df, tag)
    try use(staged) finally release(dir)
  }
}
