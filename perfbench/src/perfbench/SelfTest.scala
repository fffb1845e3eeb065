package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero when any check fails. */
object SelfTest {
  private var failures = 0

  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** A hash of every input the workloads generate from `seed` (the
    * pipeline tables in full, two serve clients, the base bucket and one
    * slice of store_bulk). */
  def inputDigest(seed: Long): Long = {
    val h = new java.util.zip.CRC32
    def add(s: String): Unit = h.update(s.getBytes("UTF-8"))
    Gen.documents(seed, 5000).foreach(d => add(d.toString))
    Gen.embeddings(seed, 2000).foreach(e => add(s"${e.id},${e.label},${e.vec.mkString(",")}"))
    Gen.events(seed, 100000).foreach(e => add(e.toString))
    for (c <- 0 until 2) {
      val in = ServeMixed.inputs(seed, c, 4)
      add(in.tsBase.toString)
      in.bodies.foreach(b => h.update(b))
      in.labels.foreach(l => add(l.toString))
    }
    for (c <- Seq(-1, 0); r <- StoreBulk.records(seed, c)) {
      add(s"${r.entry},${r.ts},${r.labels.toSeq.sorted}")
      h.update(r.payload)
    }
    h.getValue
  }

  def seeds(): Unit = {
    check(inputDigest(7) == inputDigest(7), "the same seed generates identical inputs")
    check(inputDigest(7) != inputDigest(8), "different seeds generate different inputs")
    check(ServeMixed.inputs(7, 0, 2).bodies.head.toSeq != ServeMixed.inputs(7, 1, 2).bodies.head.toSeq,
      "clients of one run get different inputs")
  }

  def percentiles(): Unit = {
    check(Stats.tailLevel(19).isEmpty, "no tail percentile below 20 samples")
    for ((n, want) <- Seq(20 -> 50.0, 40 -> 75.0, 99 -> 75.0, 100 -> 90.0,
        999 -> 90.0, 1000 -> 99.0, 10000 -> 99.9))
      check(Stats.tailLevel(n).contains(want), s"tail level of $n samples is p$want")
    // the reported level keeps >= 10 samples beyond it; the next does not
    val ok = (20 to 3000).forall { n =>
      val xs = (1 to n).map(_.toDouble)
      val p = Stats.tailLevel(n).get
      val beyond = xs.count(_ > Stats.percentile(xs, p))
      val higher = Stats.Levels.filter(_ > p)
      beyond >= 10 && higher.forall(q => xs.count(_ > Stats.percentile(xs, q)) < 10)
    }
    check(ok, "the tail level is the highest with at least 10 samples beyond it (n = 20..3000)")
    check(Stats.percentile((1 to 100).map(_.toDouble), 90) == 90.0, "p90 of 1..100 is 90")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count averages the middle two")
  }

  def names(): Unit = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val spec = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get("BENCHMARK.json")), "UTF-8"))
    def listed(key: String): Seq[(String, String)] =
      (spec \ key).extract[List[Map[String, JValue]]].map(m =>
        m("name").extract[String] -> m("unit").extract[String])
    check(listed("end_to_end") == Metrics.EndToEnd,
      "the end-to-end metrics printed are exactly those BENCHMARK.json names")
    check(listed("per_layer") == Metrics.PerLayer,
      "the per-layer metrics printed are exactly those BENCHMARK.json names")
    val workloads = (spec \ "workloads").extract[List[Map[String, String]]].map(_("name"))
    check(workloads.forall(w => scala.util.Try(Main.workload(w)).isSuccess),
      "every workload BENCHMARK.json names exists")
    val e2e = Metrics.EndToEnd.map(_._1).toSet
    check(Seq("1", "2").forall { trace =>
      val line = Report.resultLine(true, 1, 0,
        (if (trace == "1") Metrics.PerLayer else Metrics.EndToEnd).map { case (n, u) => (n, u, 1.5) })
      val printed = (org.json4s.jackson.JsonMethods.parse(line) \ "metrics").extract[Map[String, JValue]].keySet
      printed == (if (trace == "1") Metrics.PerLayer.map(_._1).toSet else e2e)
    }, "the result line carries every metric of its kind")
  }

  def intervals(): Unit = {
    check(Intervals.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25,
      "covered time merges overlapping intervals")
    check(Intervals.covered(Seq((0L, 10L), (20L, 30L)), 5, 25) == 10,
      "covered time clips to the span")
  }

  def main(args: Array[String]): Unit = {
    seeds(); percentiles(); names(); intervals()
    println(if (failures == 0) "all checks passed" else s"$failures checks FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
