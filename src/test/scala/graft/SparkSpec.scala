package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * the test run fast; UTC + small shuffle width everywhere).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val scratch = java.nio.file.Files.createTempDirectory("graft-warehouse")
    System.setProperty("derby.system.home", scratch.toString)
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      // mirrors GraftSession: the driver corpus' events.parquet is
      // TIMESTAMP(NANOS) and must scan as raw longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf, must be set at build: ThriftServerSpec registers
      // temp views and reads them over JDBC through the shared session
      .config("spark.sql.hive.thriftserver.single.session", "true")
      // mirrors GraftSession: composite pipelines compile ~92 codegen
      // fragments — the default 100-entry cache self-evicts across a
      // suite run and every suite re-pays Janino + JIT warmup (sizing
      // rationale and the 256-vs-1000 A/B: see GraftSession)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // the library's local I/O: the nio `file:` FileSystem and the
      // FileSystem-based streaming checkpoint manager (see GraftSession)
      .config(GraftSession.localIo)
      // mirrors GraftSession: the graft functions and query-stage rule
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  /** `body`'s result and the number of Spark jobs it started, counted
    * by a [[RunWitness]]. A marker job after `body` flushes the
    * listener bus, which delivers events in order.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val w = RunWitness.attach(spark)
    try {
      val out = body
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription("jobsOf marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
      var waited = 0
      while (!w.jobs().exists(j => j.desc == "jobsOf marker" && j.end >= 0) && waited < 10000) {
        Thread.sleep(20); waited += 20
      }
      (out, w.jobs().count(_.desc != "jobsOf marker"))
    } finally spark.sparkContext.removeSparkListener(w)
  }
  /** `body` with the session confs `kv` set, the prior values restored after. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
