package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local session for specs. ANSI off: the condition language's cast
  * failures are value-level errors (→ non-strict false), never query
  * aborts, and non-ANSI casts match Rust's saturating `as` semantics.
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  /** Spark jobs started while `f` runs (listener-bus flushed before
    * counting). */
  def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    listening(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    })(f)
    jobs.get()
  }

  /** Shuffle bytes written by the tasks that end while `f` runs
    * (listener-bus flushed before summing). */
  def shuffleWriteBytes(f: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    listening(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(f)
    bytes.get()
  }

  private def listening(listener: SparkListener)(f: => Unit): Unit = {
    spark.sparkContext.addSparkListener(listener)
    try { f; Thread.sleep(500) } // jobs start synchronously; let the bus drain
    finally spark.sparkContext.removeSparkListener(listener)
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[4]: measured A/B (r14) — the suite's dominant cost (the
      // 10k-entry-dir store write in HttpApiSpec) is filesystem-bound,
      // not thread-bound: local[16] left the full-suite wall unchanged
      // (500 vs 503 s), and committer algorithm v2 was SLOWER (70 vs
      // 46 s on the isolated write). Keep the small, deterministic value.
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // No .crc siblings on local-fs writes (see Bench.scala rationale);
      // the suite runs the same fs config the graded mains do.
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.parquet.page.verify-checksum.enabled", "true")
      // the suite executes far more than 100 distinct plan shapes in one
      // JVM — without this every suite re-janinos evicted classes
      // (see Bench.scala / SCALE.md r14)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
