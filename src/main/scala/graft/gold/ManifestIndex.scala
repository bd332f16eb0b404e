package graft.gold

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The files of one [[AtomicTable]] read, exactly as the manifest
  * entries name them: one [[PartitionDirectory]] per entry, its
  * partition values already parsed and typed from the entry. No
  * directory is listed and no partition value is inferred.
  *
  * Spark does not re-check a partition predicate per row (the planner
  * drops it once the index has it), so [[listFiles]] must apply every
  * partition filter itself.
  */
private[gold] final class ManifestIndex(root: Path, files: Seq[PartitionDirectory],
    val partitionSchema: StructType) extends FileIndex {

  def rootPaths: Seq[Path] = Seq(root)

  def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) files
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      files.filter(d => keep.eval(d.values))
    }

  def inputFiles: Array[String] = files.flatMap(_.files.map(_.getPath.toString)).toArray

  def refresh(): Unit = ()

  def sizeInBytes: Long = files.map(_.files.map(_.getLen).sum).sum
}
