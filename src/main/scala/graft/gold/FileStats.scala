package graft.gold

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, JoinedRow, Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{DataType, StringType}

/** Per-file row counts, zone maps and key hashes of the files a write
  * produces, gathered by the tasks that write them: a
  * `WriteJobStatsTracker` the stager hands to Spark's file writer (the
  * way Delta's `DeltaJobStatisticsTracker` collects its file stats), so
  * no job reads the files back. Each task folds every row it writes
  * into its file's row count, min and max per stats column and, up to
  * [[KeyFilter.MaxKeys]] rows, the key hashes; the values ride the
  * task commit messages to the driver ([[processStats]]).
  *
  * The values are exactly those of the aggregation
  * `groupBy(input_file_name()).agg(min(c).cast("string"),
  * max(c).cast("string"), ..., when(count(lit(1)) <= MaxKeys,
  * collect_list(xxhash64(key))))` over the written files: min and max
  * compare under Spark's ordering of the column's type and skip nulls,
  * bounds render with Spark's cast to string in the session time zone
  * `tz`, and a key hashes with `xxhash64` (a null key hashes to the
  * seed, 42).
  *
  * A row reaches a tracker as its data columns (`dataCols`, the file's
  * columns); the values of `partCols` come from the writer's
  * `newPartition`, so a stats or key column may be the partition
  * column. Files are keyed by the path below the output dir: the
  * partition dirs and the file name of the task's temp path, which
  * the commit keeps.
  */
private[gold] final class FileStats(dataCols: Seq[Attribute], partCols: Seq[Attribute],
    statsCols: Seq[Attribute], key: Option[Attribute], tz: String) extends WriteJobStatsTracker {
  import FileStats._

  private val cols = dataCols ++ partCols
  private def indexOf(a: Attribute): Int = {
    val i = cols.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"${a.name} is not a written column")
    i
  }
  private val statIdx = statsCols.map(indexOf).toArray
  private val statTypes = statsCols.map(_.dataType).toArray
  private val keyRef = key.map(k => BoundReference(indexOf(k), k.dataType, nullable = true))
  private val dirs = partCols.size

  @transient private var collected: Map[String, Stats] = Map.empty

  /** What the committed tasks wrote, keyed by the path below the
    * output dir; empty until the write job commits.
    */
  def files: Map[String, Stats] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit = {
    def render(v: Any, t: DataType): String =
      Cast(Literal(v, t), StringType, Some(tz)).eval().toString
    collected = stats.flatMap { case TaskFiles(fs) => fs }.map { f =>
      f.path -> Stats(f.rows, statTypes.indices.map(j =>
          if (f.mins(j) == null) None
          else Some((render(f.mins(j), statTypes(j)), render(f.maxs(j), statTypes(j))))),
        f.hashes)
    }.toMap
  }

  /** One task's running values, per file it opened. */
  private final class Task extends WriteTaskStatsTracker {
    private val ords = statTypes.map(TypeUtils.getInterpretedOrdering)
    private val hash = keyRef.map(r => XxHash64(Seq(r), 42L))
    private val opened = scala.collection.mutable.LinkedHashMap[String, Acc]()
    private val row = new JoinedRow
    private var partition: InternalRow = InternalRow.empty
    private var path: String = null
    private var acc: Acc = null

    override def newPartition(values: InternalRow): Unit = partition = values.copy()

    override def newFile(filePath: String): Unit = {
      acc = new Acc(partition)
      path = filePath
      opened(filePath) = acc
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, data: InternalRow): Unit = {
      if (filePath != path) { path = filePath; acc = opened(filePath) }
      val r = row(data, acc.partition)
      acc.rows += 1
      var j = 0
      while (j < statIdx.length) {
        val i = statIdx(j)
        if (!r.isNullAt(i)) {
          val v = r.get(i, statTypes(j))
          if (acc.mins(j) == null || ords(j).lt(v, acc.mins(j))) acc.mins(j) = InternalRow.copyValue(v)
          if (acc.maxs(j) == null || ords(j).gt(v, acc.maxs(j))) acc.maxs(j) = InternalRow.copyValue(v)
        }
        j += 1
      }
      if (acc.hashes != null) {
        if (acc.rows > KeyFilter.MaxKeys) acc.hashes = null
        else acc.hashes += hash.get.eval(r).asInstanceOf[Long]
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(opened.iterator.map { case (p, a) =>
        File(p.split('/').takeRight(dirs + 1).mkString("/"), a.rows, a.mins, a.maxs,
          Option(a.hashes).map(_.result()))
      }.toSeq)

    /** A file's running values; `hashes` is null when no key is hashed
      * or the file has passed the cap.
      */
    private final class Acc(val partition: InternalRow) {
      var rows = 0L
      val mins = new Array[Any](statIdx.length)
      val maxs = new Array[Any](statIdx.length)
      var hashes: scala.collection.mutable.ArrayBuilder.ofLong =
        if (hash.isDefined) new scala.collection.mutable.ArrayBuilder.ofLong else null
    }
  }
}

private[gold] object FileStats {

  /** One written file: its rows, per stats column its rendered (min,
    * max), None when the column holds only nulls, and its key hashes,
    * None when no key was asked for or the file holds more than
    * [[KeyFilter.MaxKeys]] rows.
    */
  final case class Stats(rows: Long, bounds: Seq[Option[(String, String)]],
      keyHashes: Option[Array[Long]])

  /** A file as its task saw it, in Spark's internal values. */
  private final case class File(path: String, rows: Long, mins: Array[Any], maxs: Array[Any],
      hashes: Option[Array[Long]])

  /** A task commit message's share: the files the task wrote. */
  private final case class TaskFiles(files: Seq[File]) extends WriteTaskStats
}
