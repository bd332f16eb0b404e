package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.{DataType, StringType}

/** Per-file zone maps and key hashes of freshly staged parquet files,
  * read back in ONE Spark job with no shuffle: each task folds the
  * rows it reads into a partial per file (row count, min and max per
  * stats column, the key hashes up to [[KeyFilter.MaxKeys]] rows), and
  * the driver merges the partials of a file that several tasks read
  * (a file split across scan partitions).
  *
  * The values are exactly those of the aggregation
  * `groupBy(input_file_name()).agg(min(c).cast("string"),
  * max(c).cast("string"), ..., when(count(lit(1)) <= MaxKeys,
  * collect_list(xxhash64(key))))`, which under adaptive execution
  * ran as two jobs around a shuffle: min and max compare under
  * Spark's ordering of the column's type and skip nulls, bounds render
  * with Spark's cast to string in the session time zone, and a key
  * hashes with `xxhash64` (a null key hashes to the seed, 42).
  */
private[gold] object FileStats {

  /** One file's read-back: per stats column its rendered (min, max),
    * None when the column holds only nulls, and the key hashes, None
    * when no key was asked for or the file holds more than
    * [[KeyFilter.MaxKeys]] rows.
    */
  final case class Stats(bounds: Seq[Option[(String, String)]], keyHashes: Option[Array[Long]])

  /** What one or more tasks saw of one file, in Spark's internal values. */
  private final case class Partial(rows: Long, mins: Array[Any], maxs: Array[Any],
      hashes: Option[Array[Long]])

  /** The stats of every file `files` reads that holds a row, keyed by
    * the file's `input_file_name()`.
    */
  def collect(files: DataFrame, statsCols: Seq[String], key: Option[String])
      : Map[String, Stats] = {
    val cols = (statsCols ++ key).distinct
    val read = files.select(input_file_name() +: cols.map(col): _*)
    val types = read.schema.fields.map(_.dataType)
    val statIdx = statsCols.map(c => 1 + cols.indexOf(c)).toArray
    val statTypes = statIdx.map(types)
    val keyIdx = key.map(k => 1 + cols.indexOf(k))
    val keyType = keyIdx.map(types)
    val partials = read.queryExecution.toRdd.mapPartitions { rows =>
      val ords = statTypes.map(TypeUtils.getInterpretedOrdering)
      val hash = keyIdx.map(i => XxHash64(Seq(BoundReference(i, keyType.get, nullable = true)), 42L))
      val byFile = scala.collection.mutable.HashMap[String, Acc]()
      var path: org.apache.spark.unsafe.types.UTF8String = null
      var acc: Acc = null
      rows.foreach { r =>
        if (acc == null || r.getUTF8String(0) != path) {
          path = r.getUTF8String(0).clone()
          acc = byFile.getOrElseUpdate(path.toString, new Acc(statIdx.length, hash.isDefined))
        }
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
      byFile.iterator.map { case (f, a) =>
        f -> Partial(a.rows, a.mins, a.maxs, Option(a.hashes).map(_.result()))
      }
    }.collect()
    val ords = statTypes.map(TypeUtils.getInterpretedOrdering)
    def merge(a: Partial, b: Partial): Partial = {
      def pick(x: Array[Any], y: Array[Any], keepX: (Ordering[Any], Any, Any) => Boolean) =
        x.indices.map(j =>
          if (y(j) == null || (x(j) != null && keepX(ords(j), x(j), y(j)))) x(j) else y(j)).toArray
      val rows = a.rows + b.rows
      Partial(rows, pick(a.mins, b.mins, _.lteq(_, _)), pick(a.maxs, b.maxs, _.gteq(_, _)),
        if (rows > KeyFilter.MaxKeys) None
        else for (x <- a.hashes; y <- b.hashes) yield x ++ y)
    }
    val tz = files.sparkSession.conf.get("spark.sql.session.timeZone")
    def render(v: Any, t: DataType): String =
      Cast(Literal(v, t), StringType, Some(tz)).eval().toString
    partials.groupMapReduce(_._1)(_._2)(merge).map { case (f, p) =>
      f -> Stats(statTypes.indices.map(j =>
          if (p.mins(j) == null) None
          else Some((render(p.mins(j), statTypes(j)), render(p.maxs(j), statTypes(j))))),
        p.hashes)
    }
  }

  /** A task's running partial for one file; `hashes` is null when no
    * key is hashed or the file has passed the cap.
    */
  private final class Acc(n: Int, hashed: Boolean) {
    var rows = 0L
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
    var hashes: scala.collection.mutable.ArrayBuilder.ofLong =
      if (hashed) new scala.collection.mutable.ArrayBuilder.ofLong else null
  }
}
