package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The metric names the benchmark prints; BENCHMARK.json names the same. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "ops/s",
    "op_p50_ms" -> "ms",
    "type_p50_sum_ms" -> "ms")

  /** The operators `pipeline_ops` runs, in run order. */
  val PipelineOps: Seq[String] = Seq("q_jaccard_capped", "q_minhash_pairs",
    "q_dup_clusters", "q_ivf_ann", "q_tfidf", "q_pmi_bigrams", "q_countmin",
    "q_heavy_hitters", "q_source_overlap", "q_sessionize", "q_asof_join",
    "q_seq_pack", "q_sample_stratified")

  val PerLayer: Seq[(String, String)] =
    Seq("write", "query", "fetch", "update", "remove").map(o => s"http.$o.ms" -> "ms") ++
    Seq("http.off_spark.ms" -> "ms", "http.off_spark.share" -> "ratio",
      "http.bytes_in" -> "bytes", "http.bytes_out" -> "bytes",
      "http.failed" -> "count",
      "coalescer.requests_per_mutation" -> "ratio") ++
    Seq("write", "update", "remove", "export", "compact", "table_cold",
      "table_warm").map(o => s"store.$o.ms" -> "ms") ++
    Seq("store.mutations" -> "count", "store.files" -> "count",
      "store.partitions" -> "count", "store.write_amp" -> "ratio",
      "store.bytes_per_user_byte" -> "ratio",
      "cond.parse.us" -> "us", "query.plan.ms" -> "ms",
      "query.exec.ms" -> "ms", "query.files_scanned" -> "count",
      "query.bytes_scanned" -> "bytes", "query.rows_scanned_per_row" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.task.ms" -> "ms",
      "spark.sched_delay.ms" -> "ms", "spark.shuffle_write.bytes" -> "bytes",
      "spark.shuffle_read.bytes" -> "bytes", "spark.spill.bytes" -> "bytes",
      "spark.shuffle_write_per_write.bytes" -> "bytes",
      "spark.unattributed.ms" -> "ms",
      "jvm.gc.ms" -> "ms", "jvm.heap_peak.mb" -> "MiB") ++
    PipelineOps.flatMap(o => Seq(s"pipeline.$o.ms" -> "ms",
      s"pipeline.$o.shuffle.bytes" -> "bytes", s"pipeline.$o.tasks" -> "count")) ++
    Seq("staging.ms" -> "ms") ++
    Layers.All.map(l => s"self.${l.replace('.', '_')}.ms" -> "ms") ++
    EndToEnd.map { case (n, u) => s"overhead.$n" -> u }
}

/** Run state shared by a workload and the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val work: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  /** operations completed (HTTP requests on serve_mixed), for ops_per_s */
  val completed = new AtomicLong
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()
  /** per-layer figures only the workload can take (bytes it sent, ...) */
  val figures = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  @volatile var phaseStartNs: Long = 0L
  @volatile var measuring: Boolean = false

  /** Stop issuing operations once the phase has run three times
    * `--seconds`. The phase is a fixed operation count; this only bounds a
    * run on a slow host. */
  def overDeadline: Boolean =
    measuring && System.nanoTime() - phaseStartNs > 3L * seconds * 1000000000L

  /** Set-up progress on stderr, in seconds since JVM start. */
  def log(step: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - JvmStats.jvmStartMs) / 1000.0}%.1f s: $step")

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
  }

  /** An output check outside any timed operation (final drains). */
  def check(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }

  /** One timed operation of type `tpe`. A throw or a false result counts
    * as failed; only successful operations give a latency sample. */
  def op(tpe: String)(f: => Boolean): Unit = {
    if (measuring) attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val ok =
      try tracer.span("bench", tpe)(f)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: $tpe failed: $e")
        false
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) {
      if (ok) { samples.add(tpe -> ms); completed.incrementAndGet() }
      else fail(s"$tpe returned a wrong result")
    } else if (!ok) throw new IllegalStateException(s"set-up $tpe failed")
  }

  def samplesByType: Map[String, Vector[Double]] =
    samples.asScala.toVector.groupMap(_._1)(_._2)
  def failureMessages: Seq[String] = failures.asScala.toSeq
}

trait Workload {
  def setup(ctx: Ctx): Unit
  def measure(ctx: Ctx): Unit
  /** Final output checks, after the phase (not timed). */
  def verify(ctx: Ctx): Unit
  def close(): Unit
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, keep: Option[String], baseline: Option[String])

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", m.get("--keep"), m.get("--baseline"))
  }

  def workload(name: String): Workload = name match {
    case "serve_mixed" => new ServeMixed
    case "store_bulk" => new StoreBulk
    case "pipeline_ops" => new PipelineOps
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val wl = workload(a.workload)
    val base = Paths.get(".bench_build", "perfbench").toAbsolutePath
    val work = base.resolve("work").resolve(
      s"${a.workload}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", "perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (a.trace) Some(new BenchListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val ctx = new Ctx(spark, a.seed, a.seconds, tracer, work)
    var exit = 0
    try {
      ctx.log("session ready")
      wl.setup(ctx)
      ctx.log("set-up done")
      val gc0 = JvmStats.gcMs
      JvmStats.resetPeak()
      val setupS = (System.currentTimeMillis() - JvmStats.jvmStartMs) / 1000.0
      ctx.phaseStartNs = System.nanoTime()
      val phaseStartEpoch = Tracer.nowEpochNs
      ctx.measuring = true
      wl.measure(ctx)
      ctx.measuring = false
      val phaseEndEpoch = Tracer.nowEpochNs
      val phaseS = (System.nanoTime() - ctx.phaseStartNs) / 1e9
      val gcMs = JvmStats.gcMs - gc0
      val heapMb = JvmStats.heapPeakMb
      wl.verify(ctx)

      val byType = ctx.samplesByType
      val all = byType.values.flatten.toVector
      val e2e: Map[String, Double] = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> ctx.completed.get / phaseS,
        "op_p50_ms" -> (if (all.isEmpty) Double.NaN else Stats.median(all)),
        "type_p50_sum_ms" -> byType.values.map(Stats.median).sum)
      Report.table(a.workload, a.seed, cores, phaseS, byType, ctx)
      val samples = Map("setup_s" -> 1L, "ops_per_s" -> ctx.completed.get,
        "op_p50_ms" -> all.size.toLong, "type_p50_sum_ms" -> all.size.toLong)
      val metrics: Seq[(String, String, Double)] =
        if (!a.trace) {
          Report.printFigures("end-to-end", Metrics.EndToEnd, e2e, samples)
          Metrics.EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
        } else {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val jobs = listener.get.jobs(phaseStartEpoch).filter(_.start < phaseEndEpoch)
          val spans = tracer.recorded.filter(s => s.start >= phaseStartEpoch && s.end <= phaseEndEpoch)
          val baseline = a.baseline.flatMap(Report.readKept)
          val layer = Layers.figures(spans, jobs, ctx, gcMs, heapMb, e2e,
            baseline, byType.view.mapValues(_.size).toMap)
          Report.printFigures("traced end-to-end", Metrics.EndToEnd, e2e, samples)
          Report.printFigures("per-layer", Metrics.PerLayer, layer)
          val trace = base.resolve("traces")
            .resolve(s"${a.workload}-s${a.seed}.trace.jsonl")
          Layers.write(trace, a.workload, a.seed, spans, jobs, layer)
          println(s"trace written to ${base.getParent.getParent.relativize(trace)}")
          Metrics.PerLayer.map { case (n, u) => (n, u, layer(n)) }
        }
      if (!a.trace) a.keep.foreach(Report.keep(_, e2e))
      val bad = metrics.filter { case (_, _, v) => v.isNaN || v.isInfinite }
      if (bad.nonEmpty) sys.error(s"unmeasured metrics: ${bad.map(_._1).mkString(", ")}")
      ctx.failureMessages.foreach(m => System.err.println(s"perfbench: FAILED $m"))
      val correct = ctx.failed.get == 0 && ctx.attempted.get > 0
      println(Report.resultLine(correct, ctx.attempted.get, ctx.failed.get, metrics))
    } catch { case e: Throwable =>
      System.err.println(s"perfbench: run aborted: $e")
      e.printStackTrace()
      exit = 1
    } finally {
      try wl.close() catch { case scala.util.control.NonFatal(_) => () }
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    }
    sys.exit(exit)
  }
}

object Report {
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def table(workload: String, seed: Long, cores: Int, phaseS: Double,
      byType: Map[String, Vector[Double]], ctx: Ctx): Unit = {
    println(f"perfbench $workload seed=$seed cores=$cores measured=${phaseS}%.2fs " +
      s"attempted=${ctx.attempted.get} failed=${ctx.failed.get} " +
      f"error_rate=${if (ctx.attempted.get == 0) 0.0 else ctx.failed.get.toDouble / ctx.attempted.get}%.4f")
    println(f"${"operation"}%-22s ${"samples"}%8s ${"p50_ms"}%10s  tail")
    for ((t, xs) <- byType.toSeq.sortBy(_._1)) {
      val tail = Stats.tailLevel(xs.size)
        .map(p => f"p${p}%s=${Stats.percentile(xs, p)}%.2f ms")
        .getOrElse("(fewer than 20 samples)")
      println(f"$t%-22s ${xs.size}%8d ${Stats.median(xs)}%10.2f  $tail")
    }
    ctx.figures.asScala.toSeq.filterNot(_._1.contains('.')).sortBy(_._1)
      .foreach { case (k, v) => println(f"$k%-34s ${fmt(v)}") }
  }

  def printFigures(title: String, names: Seq[(String, String)],
      values: Map[String, Double], samples: Map[String, Long] = Map.empty): Unit = {
    println(s"-- $title")
    for ((n, u) <- names)
      println(f"$n%-40s ${fmt(values(n))}%20s $u%-6s" +
        samples.get(n).map(k => s" samples=$k").getOrElse(""))
  }

  /** Kept end-to-end figures of an untraced run, for the traced run's
    * overhead. */
  def keep(path: String, e2e: Map[String, Double]): Unit = {
    val body = e2e.map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
    Files.write(Paths.get(path), body.getBytes("UTF-8")): Unit
  }

  def readKept(path: String): Option[Map[String, Double]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))
      Some(j match {
        case JObject(kvs) => kvs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JDecimal(v)) => k -> v.toDouble
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JLong(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      })
    }
  }
}
