package perfbench

import java.nio.file.{Files, Path}

/** Per-layer figures of a traced run, from the benchmark's spans and the
  * Spark jobs its listener saw during the measured phase. */
object Layers {
  /** Span layers, outermost first. `bench` is the benchmark's own time
    * inside an operation; `spark.job` and `spark.stage` come from the
    * listener. */
  val All: Seq[String] = Seq("bench", "http", "store", "cond", "query",
    "pipeline", "spark.job", "spark.stage")

  private def ms(ns: Long): Double = ns / 1e6

  /** Each job with the span that caused it: the span whose id the job
    * carries, else the HTTP request span it overlaps most (jobs the HTTP
    * server runs on its own threads), else none. */
  def attribute(spans: Vector[Span], jobs: Vector[JobRec]): Vector[(JobRec, Option[Span])] = {
    val byId = spans.map(s => s.id -> s).toMap
    val http = spans.filter(_.layer == "http")
    jobs.map { j =>
      j -> byId.get(j.span).orElse(
        http.map(s => s -> Intervals.overlap(s.start, s.end, j.start, j.end))
          .filter(_._2 > 0).maxByOption(_._2).map(_._1))
    }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children (child spans, attributed jobs, a job's stages) cover. */
  def selfTimes(spans: Vector[Span], attributed: Vector[(JobRec, Option[Span])]): Map[String, (Double, Int)] = {
    val childSpans = spans.groupBy(_.parent)
    val childJobs = attributed.collect { case (j, Some(s)) => s.id -> j }.groupMap(_._1)(_._2)
    val spanSelf = spans.map { s =>
      val kids = childSpans.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)) ++
        childJobs.getOrElse(s.id, Vector.empty).map(j => (j.start, j.end))
      s.layer -> (s.dur - Intervals.covered(kids, s.start, s.end))
    }
    val jobSelf = attributed.map { case (j, _) =>
      "spark.job" -> ((j.end - j.start) -
        Intervals.covered(j.stages.map(g => (g.start, g.end)), j.start, j.end))
    }
    val stageSelf = attributed.flatMap { case (j, _) =>
      j.stages.filter(_.end > 0).map(g => "spark.stage" -> (g.end - g.start))
    }
    (spanSelf ++ jobSelf ++ stageSelf).groupMapReduce(_._1)(p => (ms(p._2), 1)) {
      case ((a, n), (b, m)) => (a + b, n + m)
    }
  }

  def figures(spans: Vector[Span], jobs: Vector[JobRec], ctx: Ctx, gcMs: Long,
      heapMb: Double, e2e: Map[String, Double],
      baseline: Option[Map[String, Double]],
      opCounts: Map[String, Int]): Map[String, Double] = {
    val attributed = attribute(spans, jobs)
    val opName = spans.filter(_.layer == "bench").map(s => s.op -> s.name).toMap
    def jobsOfOp(tpe: String): Vector[JobRec] = attributed.collect {
      case (j, Some(s)) if opName.get(s.op).contains(tpe) => j
    }
    def jobsOfSpan(layer: String, name: String): Vector[JobRec] = attributed.collect {
      case (j, Some(s)) if s.layer == layer && s.name == name => j
    }
    def med(layer: String, name: String, scale: Double = 1e6): Double = {
      val xs = spans.filter(s => s.layer == layer && s.name == name).map(_.dur / scale)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def fig(k: String): Double = Option(ctx.figures.get(k)).getOrElse(0.0)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

    val http = spans.filter(_.layer == "http")
    val jobIntervals = jobs.map(j => (j.start, j.end))
    val offSpark = http.map(s => s.dur - Intervals.covered(jobIntervals, s.start, s.end)).sum
    val httpIntervals = http.map(s => (s.start, s.end))
    // job time no span claims: jobs carrying no span id, outside every request
    val spanIds = spans.map(_.id).toSet
    val unattributed = jobs.filterNot(j => spanIds.contains(j.span)).map(j =>
      (j.end - j.start) - Intervals.covered(httpIntervals, j.start, j.end)).sum

    val queryJobs = jobsOfOp("query")
    val self = selfTimes(spans, attributed)
    val stages = jobs.flatMap(_.stages)
    val m = Map.newBuilder[String, Double]
    for (o <- Seq("write", "query", "fetch", "update", "remove"))
      m += s"http.$o.ms" -> med("http", o)
    m ++= Seq(
      "http.off_spark.ms" -> ms(offSpark),
      "http.off_spark.share" -> ratio(offSpark.toDouble, http.map(_.dur).sum.toDouble),
      "http.bytes_in" -> fig("http.bytes_in"),
      "http.bytes_out" -> fig("http.bytes_out"),
      "http.failed" -> fig("http.failed"),
      "coalescer.requests_per_mutation" -> fig("coalescer.requests_per_mutation"))
    for (o <- Seq("write", "update", "remove", "export", "compact", "table_cold", "table_warm"))
      m += s"store.$o.ms" -> med("store", o)
    m ++= Seq(
      "store.mutations" -> fig("store.mutations"),
      "store.files" -> fig("store.files"),
      "store.partitions" -> fig("store.partitions"),
      "store.write_amp" -> ratio(jobsOfOp("write").map(_.sum(_.outputBytes)).sum.toDouble,
        fig("user_bytes_written")),
      "store.bytes_per_user_byte" -> fig("store.bytes_per_user_byte"),
      "cond.parse.us" -> med("cond", "parse", 1e3),
      "query.plan.ms" -> med("query", "plan"),
      "query.exec.ms" -> med("query", "exec"),
      "query.files_scanned" -> fig("query.files_scanned"),
      "query.bytes_scanned" -> queryJobs.map(_.sum(_.inputBytes)).sum.toDouble,
      "query.rows_scanned_per_row" -> ratio(queryJobs.map(_.sum(_.inputRecords)).sum.toDouble,
        fig("rows_returned")),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.task.ms" -> stages.map(_.runMs).sum.toDouble,
      "spark.sched_delay.ms" -> stages.map(_.schedMs).sum.toDouble,
      "spark.shuffle_write.bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read.bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.spill.bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.shuffle_write_per_write.bytes" -> ratio(
        jobsOfOp("write").map(_.sum(_.shuffleWrite)).sum.toDouble,
        opCounts.getOrElse("write", 0).toDouble),
      "spark.unattributed.ms" -> ms(unattributed),
      "jvm.gc.ms" -> gcMs.toDouble,
      "jvm.heap_peak.mb" -> heapMb)
    for (o <- Metrics.PipelineOps) {
      val js = jobsOfSpan("pipeline", o)
      val runs = spans.count(s => s.layer == "pipeline" && s.name == o)
      m ++= Seq(s"pipeline.$o.ms" -> med("pipeline", o),
        s"pipeline.$o.shuffle.bytes" -> ratio(js.map(_.sum(_.shuffleWrite)).sum.toDouble, runs),
        s"pipeline.$o.tasks" -> ratio(js.map(_.sum(_.tasks)).sum.toDouble, runs))
    }
    m += "staging.ms" -> fig("staging.ms")
    for (l <- All) m += s"self.${l.replace('.', '_')}.ms" -> self.get(l).map(_._1).getOrElse(0.0)
    for ((n, _) <- Metrics.EndToEnd)
      m += s"overhead.$n" -> baseline.flatMap(_.get(n)).map(e2e(n) - _).getOrElse(Double.NaN)
    m.result()
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The trace: a summary line (per-layer self time and span count, and
    * every per-layer metric), then one line per span, job and stage. */
  def write(path: Path, workload: String, seed: Long, spans: Vector[Span],
      jobs: Vector[JobRec], metrics: Map[String, Double]): Unit = {
    Files.createDirectories(path.getParent)
    val attributed = attribute(spans, jobs)
    val self = selfTimes(spans, attributed)
    val layers = All.map { l =>
      val (t, n) = self.getOrElse(l, (0.0, 0))
      s"""${q(l)}: {"self_ms": ${Report.fmt(t)}, "count": $n}"""
    }.mkString("{", ", ", "}")
    val ms = Metrics.PerLayer.map { case (n, _) => s"${q(n)}: ${Report.fmt(metrics(n))}" }
      .mkString("{", ", ", "}")
    def line(id: String, parent: String, layer: String, name: String, s: Long, e: Long) =
      s"""{"id": ${q(id)}, "parent": ${q(parent)}, "layer": ${q(layer)}, "name": ${q(name)}, "start_ns": $s, "end_ns": $e}"""
    val out = Vector(s"""{"workload": ${q(workload)}, "seed": $seed, "layers": $layers, "metrics": $ms}""") ++
      spans.sortBy(_.start).map(s => line(s"s${s.id}", if (s.parent == 0) "" else s"s${s.parent}",
        s.layer, s.name, s.start, s.end)) ++
      attributed.flatMap { case (j, parent) =>
        line(s"j${j.id}", parent.map(p => s"s${p.id}").getOrElse(""), "spark.job",
          s"job ${j.id}", j.start, j.end) +:
          j.stages.filter(_.end > 0).map(g =>
            line(s"g${g.stageId}", s"j${j.id}", "spark.stage", s"stage ${g.stageId}", g.start, g.end))
      }
    Files.write(path, (out.mkString("\n") + "\n").getBytes("UTF-8")): Unit
  }
}
