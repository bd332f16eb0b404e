package graft

import org.apache.spark.sql.functions._
import graft.gold.AtomicTable

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // two independent uniform dimensions: before clustering every file
  // spans ~the full range of both, so zone maps can prune nothing
  private def corpus() = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 4000).map(i =>
      (i.toLong, rnd.nextInt(4000).toLong, rnd.nextInt(4000).toLong))
    rows.toDF("id", "a", "b").repartition(16)
  }

  test("clusterBy: rows preserved, BOTH clustered dims prune files, old version readable") {
    val root = tmpDir("zorder")
    AtomicTable.append(spark, corpus(), root)
    val before = AtomicTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)

    // un-clustered baseline: a narrow scan still opens every file
    val preFiles = AtomicTable.read(spark, root).inputFiles.length
    assert(preFiles === 16)
    assert(AtomicTable.scanWhere(spark, root, "a", "0", "249")
      .inputFiles.length === preFiles)

    val v = AtomicTable.clusterBy(spark, root, Seq("a", "b"),
      targetFileBytes = 4096)
    assert(v > 0)
    val after = AtomicTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(after === before) // layout-only rewrite

    val total = AtomicTable.read(spark, root).inputFiles.length
    assert(total >= 4, s"want multiple files to make pruning observable, got $total")
    val keptA = AtomicTable.scanWhere(spark, root, "a", "0", "249").inputFiles.length
    val keptB = AtomicTable.scanWhere(spark, root, "b", "0", "249").inputFiles.length
    // z-order (vs a lexicographic sort, which only serves its leading
    // column): a 1/16-range slice of EITHER dimension skips files
    assert(keptA <= total / 2, s"a-slice read $keptA of $total files")
    assert(keptB <= total / 2, s"b-slice read $keptB of $total files")

    // pruned scans stay correct
    val want = before.filter(r => r._2 <= 249).map(_._1).sorted
    val got = AtomicTable.scanWhere(spark, root, "a", "0", "249")
      .select("id").as[Long].collect().sorted
    assert(got === want)

    // time travel: the pre-clustering snapshot is untouched
    val old = AtomicTable.readVersion(spark, root, v - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(old === before)
  }

  test("statsBounds serves zone-map (zs=) stats after clusterBy") {
    val root = tmpDir("zorder-bounds")
    AtomicTable.append(spark, corpus(), root)
    AtomicTable.clusterBy(spark, root, Seq("a", "b"), targetFileBytes = 4096)
    // clusterBy rewrites every entry with fresh zs= groups; losing
    // them would make statsBounds return None and silently degrade the
    // high-watermark path to a full table scan
    val bounds = AtomicTable.statsBounds(root, "a")
    assert(bounds.isDefined, "zs= stats must serve manifest bounds")
    val (lo, hi) = bounds.get
    assert(lo.toLong >= 0L && hi.toLong <= 3999L && lo.toLong <= hi.toLong)
  }

  test("clusterBy rejects non-numeric columns and empty col list") {
    val root = tmpDir("zorder-bad")
    AtomicTable.append(spark, Seq((1L, "x")).toDF("id", "s"), root)
    intercept[IllegalArgumentException] {
      AtomicTable.clusterBy(spark, root, Seq("s"))
    }
    intercept[IllegalArgumentException] {
      AtomicTable.clusterBy(spark, root, Seq.empty)
    }
  }
}
