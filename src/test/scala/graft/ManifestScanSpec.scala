package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}
import graft.gold.AtomicTable

/** An AtomicTable snapshot reads as one scan over exactly the files its
  * manifest lists, with partition values taken from the manifest: no
  * per-dir relation, no union, no directory listing.
  */
class ManifestScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Dates = (1 to 5).map(d => java.sql.Date.valueOf(s"2024-01-0$d"))
  private val DirsPerDate = 50

  /** A table of 250 staged dirs, 50 per date, each one copy of a small
    * staged file: one real commit, then copies listed by a hand-written
    * manifest. Returns the root and the rows per file.
    */
  private def manyDirs(): (String, Long) = {
    val root = tmpDir("manifest-many")
    val rows = (0 until 3).map(i => (s"k$i", i.toLong, Dates.head)).toDF("k", "n", "pd").coalesce(1)
    AtomicTable.appendPartitioned(spark, rows, root, "pd")
    val Seq(entry) = AtomicTable.files(root, 0)
    val path = entry.split("\t")(0)
    val Array(_, dir, _, file) = path.split("/")
    val entries = for (d <- Dates; i <- 0 until DirsPerDate) yield {
      val copy = s"_staged/$dir-$d-$i"
      val part = Paths.get(root, copy, s"pd=$d")
      Files.createDirectories(part)
      Files.copy(Paths.get(root, path), part.resolve(file))
      Files.copy(Paths.get(root, "_staged", dir, "_schema.json"), Paths.get(root, copy, "_schema.json"))
      s"$copy/pd=$d/$file\tp=$d"
    }
    Files.write(Paths.get(root, "_commits", "v00001.manifest"), entries.mkString("\n").getBytes("UTF-8"))
    (root, 3L)
  }

  test("a snapshot of 250 staged dirs plans as one scan leaf, no union") {
    val (root, perFile) = manyDirs()
    val df = AtomicTable.read(spark, root)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectLeaves().size === 1, plan.treeString)
    assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
    assert(df.inputFiles.length === Dates.size * DirsPerDate)
    assert(df.count() === Dates.size * DirsPerDate * perFile)
    assert(df.schema("pd").dataType === DateType)
  }

  test("a partition predicate reads only that partition's files") {
    val (root, perFile) = manyDirs()
    val df = AtomicTable.read(spark, root).filter(col("pd") === lit(Dates(2))).select("k", "pd")
    val got = df.collect()
    assert(got.length === DirsPerDate * perFile)
    assert(got.forall(_.getDate(1) == Dates(2)))
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size === 1)
    assert(scans.head.metrics("numFiles").value === DirsPerDate)
  }

  test("a string partition value reads back as written: \"00123\" stays \"00123\"") {
    val root = tmpDir("manifest-zeros")
    AtomicTable.appendPartitioned(spark,
      Seq((1L, "a", "00123"), (2L, "b", "7"), (3L, "c", null)).toDF("k", "v", "p"), root, "p")
    val df = AtomicTable.read(spark, root)
    assert(df.schema("p").dataType === StringType)
    assert(df.select("k", "p").as[(Long, String)].collect().toSet ===
      Set((1L, "00123"), (2L, "7"), (3L, null)))
    // the null partition prunes like any other: an update of k=3 and a
    // move of k=1 into it rewrite their two partitions, "7" carries over
    val before = AtomicTable.files(root, 0).filter(_.contains("p=7"))
    val v = AtomicTable.mergePartitioned(spark,
      Seq((3L, "C", null: String), (1L, "A", null: String)).toDF("k", "v", "p"), root, "k", "p")
    assert(before.forall(AtomicTable.files(root, v).contains))
    assert(AtomicTable.read(spark, root).select("k", "v", "p").as[(Long, String, String)]
      .collect().toSet === Set((1L, "A", null), (2L, "b", "7"), (3L, "C", null)))
  }
}
