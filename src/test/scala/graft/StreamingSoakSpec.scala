package graft

import graft.gold.AtomicTable
import graft.streaming.{StreamingCuration, StreamingDedup}

/** Fifty micro-batches of the two document gates over a growing
  * corpus, each batch new docs plus one doc re-ingested from an
  * earlier batch: the bytes of prior files a batch's commits drop stay
  * flat while the tables grow, and the stores end holding exactly the
  * expected pairs, chunks and drops.
  */
class StreamingSoakSpec extends SparkSpec {
  import spark.implicits._

  private val Batches = 50

  /** Doc `id`'s text: 40 hashed words no other doc's text holds, so
    * the stored bytes grow with the corpus.
    */
  private def words(id: Long) =
    (0 until 40).map(w => scala.util.hashing.MurmurHash3.stringHash(s"$id/$w").toHexString)

  /** Batch i: docs of their own words (10i, 10i+4, 10i+5), a
    * near-duplicate of batch i-1's first doc (10i+1: one word of 40
    * changed), a doc nothing near-duplicates (10i+2), a one-word doc
    * the curation gate drops (10i+3) and, from batch 1 on, doc
    * 10(i/2)+2 re-ingested.
    */
  private def batch(i: Int): Seq[(Long, String)] = {
    val base = 10L * i
    val nearDup = if (i == 0) words(base + 1) else "changed" +: words(base - 10).tail
    val reIngested = 10L * (i / 2) + 2
    Seq(0, 2, 4, 5).map(j => (base + j) -> words(base + j).mkString(" ")) ++
      Seq((base + 1) -> nearDup.mkString(" "), (base + 3) -> s"short$base") ++
      (if (i == 0) Nil else Seq(reIngested -> words(reIngested).mkString(" ")))
  }

  test("50 gate batches: bytes rewritten per batch stay flat, stores converge") {
    val (corpus, index, pairs) = (tmpDir("soak-corpus"), tmpDir("soak-index"), tmpDir("soak-pairs"))
    val (chunks, drops) = (tmpDir("soak-chunks"), tmpDir("soak-drops"))
    val tables = Seq(corpus, index, pairs, chunks, drops)
    def bytes(root: String, e: String) =
      java.nio.file.Files.size(java.nio.file.Paths.get(root, e.split("\t")(0)))
    /** Bytes of the files version v-1 lists and v does not. */
    def dropped(root: String, v: Int): Long = {
      val now = AtomicTable.files(root, v).map(_.split("\t")(0)).toSet
      AtomicTable.files(root, v - 1).filterNot(e => now(e.split("\t")(0))).map(bytes(root, _)).sum
    }
    val w = RunWitness.attach(spark)
    def jobsOf(body: => Unit): Int = {
      w.clearJobs()
      body
      var waited = 0
      while (w.jobs().exists(_.end < 0) && waited < 5000) { Thread.sleep(20); waited += 20 }
      w.jobs().size
    }
    val t0 = System.nanoTime()
    val perBatch = try (0 until Batches).map { i =>
      val before = tables.map(AtomicTable.latestVersion(_).getOrElse(-1))
      val docs = batch(i).toDF("doc_id", "text")
      val dedupJobs = jobsOf(StreamingDedup.processBatch(docs, corpus, index, pairs))
      val curationJobs = jobsOf(StreamingCuration.processBatch(docs, chunks, drops))
      val after = tables.map(AtomicTable.latestVersion(_).getOrElse(-1))
      val rewritten = tables.zip(before.zip(after)).map { case (root, (b, a)) =>
        (math.max(b, 0) + 1 to a).map(dropped(root, _)).sum
      }.sum
      (rewritten, dedupJobs, curationJobs)
    } finally spark.sparkContext.removeSparkListener(w)
    val wall = (System.nanoTime() - t0) / 1e9
    val liveFiles = tables.map(r => AtomicTable.files(r, AtomicTable.latestVersion(r).get).size)
    println(f"[soak] wall $wall%.1f s; live files (corpus, index, pairs, chunks, drops) " +
      liveFiles.mkString(", ") + s" = ${liveFiles.sum}")
    println("[soak] prior bytes dropped per batch: " + perBatch.map(_._1).mkString(" "))
    println("[soak] jobs per StreamingDedup.processBatch: " + perBatch.map(_._2).mkString(" "))
    println("[soak] jobs per StreamingCuration.processBatch: " + perBatch.map(_._3).mkString(" "))

    val early = perBatch.slice(5, 15).map(_._1).max
    val late = perBatch.takeRight(10).map(_._1).max
    assert(early > 0 && late <= 2 * early, s"late max $late B against early max $early B")

    val all = (0 until Batches).flatMap(batch).toMap
    assert(AtomicTable.read(spark, corpus).select("doc_id", "text").as[(Long, String)]
      .collect().toSeq.sorted === all.toSeq.sorted)
    // 16 bands a doc; a one-word doc has no shingle, so no band row
    val kept = all.keys.filter(_ % 10 != 3).toSeq.sorted
    assert(AtomicTable.read(spark, index).select("doc_id").as[Long].collect()
      .groupBy(identity).map { case (d, n) => d -> n.length } === kept.map(_ -> 16).toMap)
    assert(AtomicTable.read(spark, pairs).select("new_id", "old_id").as[(Long, Long)]
      .collect().toSeq.sorted === (1 until Batches).map(i => (10L * i + 1, 10L * (i - 1))))
    assert(AtomicTable.read(spark, chunks).select("doc_id", "chunk_id").as[(Long, Long)]
      .collect().toSeq.sorted === kept.map(_ -> 0L))
    assert(AtomicTable.read(spark, drops).as[(Long, String)].collect().toSeq.sorted ===
      all.keys.filter(_ % 10 == 3).toSeq.sorted.map(_ -> "too_short"))
  }
}
