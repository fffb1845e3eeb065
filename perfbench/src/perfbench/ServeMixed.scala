package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `serve_mixed`: the real HTTP server (`graft.engine.HttpApi`) in a
  * closed loop with four clients, one HTTP/1.1 connection each. Every
  * client owns two path-shaped entries (`sensor/<c>/0`, `sensor/<c>/1`)
  * and keeps its own model of what they hold, so every response is
  * checked. One iteration:
  *  - a v1 batched write of 80 records of 1 KiB (labels key, index,
  *    value, type) to one of the two entries, alternating every two
  *    iterations;
  *  - a `when` query over that entry's last two batches: cursor open,
  *    then batch fetches until the last;
  *  - on iterations ≡ 1 (mod 4), a batched label PATCH of 8 records;
  *  - on iterations ≡ 3 (mod 4), a remove over an older batch: a batched
  *    DELETE of 8 records or a `$each_n: 2` remove-query over 16,
  *    alternately.
  * The server runs as the repository's own benchmark configures it: rate
  * limits far above the load and 2 writers in flight, so every request
  * pays admission and none is rejected. */
object ServeMixed {
  val Records = 80
  val PayloadBytes = 1024

  /** A client's inputs: its first timestamp, and per iteration the write
    * body and the labels of each record. */
  final case class Inputs(tsBase: Long, bodies: Vector[Array[Byte]],
      labels: Vector[Vector[Map[String, String]]])

  def inputs(seed: Long, client: Int, iterations: Int): Inputs = {
    val r = Gen.rng(seed, s"serve-client-$client")
    val tsBase = Gen.T0 + r.nextLong(1L << 30)
    val bodies = Vector.fill(iterations)(Gen.bytes(r, Records * PayloadBytes))
    Inputs(tsBase, bodies, Vector.fill(iterations)(Vector.tabulate(Records)(k => Gen.labels(r, k))))
  }
}

final class ServeMixed extends Workload {
  import ServeMixed._
  val Clients = 4
  val StepUs = 1000L
  val WarmIters = 4
  val Iters = 16

  private var store: graft.engine.BucketStore = _
  private var api: graft.engine.HttpApi = _
  private var port = 0
  private var clients: Vector[Client] = Vector.empty
  private val pool = Executors.newFixedThreadPool(Clients)

  private final class Rec(val labels: mutable.Map[String, String])

  private final class Client(c: Int, seed: Long, ctx: Ctx) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val model = Vector.fill(2)(mutable.TreeMap.empty[Long, Rec])
    private val batches = Vector.fill(2)(mutable.ArrayBuffer.empty[Long]) // first ts of each batch
    // request bodies are generated up front: the server receives only inputs
    private val ServeMixed.Inputs(tsBase, bodies, labelDraws) =
      ServeMixed.inputs(seed, c, WarmIters + Iters)
    var iter = 0
    def liveRecords: Int = model.map(_.size).sum

    private def entry(e: Int) = s"sensor/$c/$e"
    private def ts(e: Int, b: Int, k: Int) = tsBase + (b.toLong * Records + k) * StepUs
    private def url(path: String) = URI.create(s"http://127.0.0.1:$port/api/v1/b/bench/$path")

    private def send(kind: String, method: String, path: String, body: Array[Byte],
        headers: Seq[(String, String)]): HttpResponse[Array[Byte]] =
      ctx.tracer.span("http", kind) {
        val b = HttpRequest.newBuilder(url(path)).header("Authorization", "Bearer bench")
          .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
        headers.foreach { case (k, v) => b.header(k, v) }
        val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
        if (ctx.measuring) {
          ctx.figures.merge("http.bytes_in", body.length.toDouble, _ + _)
          ctx.figures.merge("http.bytes_out", resp.body.length.toDouble, _ + _)
          if (resp.statusCode / 100 != 2) ctx.figures.merge("http.failed", 1.0, _ + _)
        }
        resp
      }

    private def number(resp: HttpResponse[Array[Byte]], field: String): Long =
      s""""$field"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(new String(resp.body, "UTF-8"))
        .map(_.group(1).toLong).getOrElse(-1L)

    private def noErrors(resp: HttpResponse[Array[Byte]]): Boolean =
      resp.statusCode == 200 &&
        !resp.headers.map.keySet.asScala.exists(_.toLowerCase.startsWith("x-reduct-error"))

    /** Opens a cursor and drains it; the records it returned, with labels. */
    def query(e: Int, body: String): Map[Long, Map[String, String]] = {
      val open = send("query", "POST", s"${entry(e)}/q", body.getBytes("UTF-8"), Nil)
      require(open.statusCode == 200, s"query open -> ${open.statusCode}")
      val id = number(open, "id")
      val out = mutable.Map.empty[Long, Map[String, String]]
      var last = false
      while (!last) {
        val f = send("fetch", "GET", s"${entry(e)}/batch?q=$id", Array.emptyByteArray, Nil)
        if (ctx.measuring) ctx.completed.incrementAndGet()
        if (f.statusCode == 204) last = true
        else {
          require(f.statusCode == 200, s"fetch -> ${f.statusCode}")
          for ((k, vs) <- f.headers.map.asScala if k.toLowerCase.startsWith("x-reduct-time-"))
            out(k.substring("x-reduct-time-".length).toLong) = parseLabels(vs.get(0))
          last = f.headers.firstValue("x-reduct-last").orElse("true").toBoolean
        }
      }
      out.toMap
    }

    /** `<len>,<content-type>,k=v,...` → labels (values here hold no commas). */
    private def parseLabels(h: String): Map[String, String] =
      h.split(",").drop(2).map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i) -> kv.substring(i + 1).stripPrefix("\"").stripSuffix("\"")
      }.toMap

    def iteration(): Unit = {
      val i = iter
      iter += 1
      val e = (i / 2) % 2
      val b = batches(e).size
      val labels = labelDraws(i)
      val body = bodies(i)
      ctx.op("write") {
        val hdrs = (0 until Records).map { k =>
          val l = labels(k).map { case (n, v) => s"$n=$v" }.toSeq.sorted.mkString(",")
          s"x-reduct-time-${ts(e, b, k)}" -> s"$PayloadBytes,application/octet-stream,$l"
        }
        val ok = noErrors(send("write", "POST", s"${entry(e)}/batch", body, hdrs))
        if (ok) {
          batches(e) += ts(e, b, 0)
          for (k <- 0 until Records) model(e)(ts(e, b, k)) = new Rec(mutable.Map() ++= labels(k))
        }
        ok
      }
      // the entry's recent window: its last two batches
      val start = ts(e, math.max(0, b - 1), 0)
      val stop = ts(e, b + 1, 0)
      ctx.op("query") {
        val got = query(e, s"""{"query_type": "QUERY", "start": $start, "stop": $stop, """ +
          """"when": {"$in": ["&type", "alpha", "beta"]}}""")
        val want = model(e).range(start, stop).filter { case (_, rec) =>
          Set("alpha", "beta").contains(rec.labels("type")) }
        got.keySet == want.keySet
      }
      if (i % 4 == 1 && b >= 1) ctx.op("update") {
        val hdrs = (0 until 8).map(k => s"x-reduct-time-${ts(e, b - 1, k)}" -> s"0,,key=patched$i")
        val resp = send("update", "PATCH", s"${entry(e)}/batch", Array.emptyByteArray, hdrs)
        val ok = noErrors(resp) && number(resp, "updated_records") == 8
        if (ok) for (k <- 0 until 8) model(e)(ts(e, b - 1, k)).labels("key") = s"patched$i"
        ok
      }
      if (i % 4 == 3 && b >= 2) ctx.op("remove") {
        val removed =
          if ((i / 4) % 2 == 0) {
            val gone = (60 until 68).map(k => ts(e, b - 2, k))
            val resp = send("remove", "DELETE", s"${entry(e)}/batch", Array.emptyByteArray,
              gone.map(t => s"x-reduct-time-$t" -> "0"))
            if (noErrors(resp) && number(resp, "removed_records") == 8) gone else Nil
          } else {
            // $each_n: 2 over 16 records removes every second one
            val body = s"""{"query_type": "REMOVE", "start": ${ts(e, b - 2, 40)}, """ +
              s""""stop": ${ts(e, b - 2, 56)}, "when": {"$$each_n": 2}}"""
            val resp = send("remove", "POST", s"${entry(e)}/q", body.getBytes("UTF-8"), Nil)
            if (noErrors(resp) && number(resp, "removed_records") == 8)
              (41 until 56 by 2).map(k => ts(e, b - 2, k)) else Nil
          }
        removed.foreach(model(e).remove)
        removed.nonEmpty
      }
    }

    /** Final drain of both entries: exactly the written-minus-removed
      * records, with the patched labels. */
    def verify(): Unit = for (e <- 0 to 1) {
      val got = query(e, """{"query_type": "QUERY"}""")
      ctx.check(got.keySet == model(e).keySet,
        s"${entry(e)}: drained ${got.size} records, model holds ${model(e).size}")
      val wrong = model(e).count { case (t, rec) => got.get(t).exists(_ != rec.labels.toMap) }
      ctx.check(wrong == 0, s"${entry(e)}: $wrong records with wrong labels")
    }
  }

  private def inParallel(f: Client => Unit): Unit = {
    val fs = clients.map(cl => pool.submit((() => f(cl)): Runnable))
    fs.foreach(_.get(10, TimeUnit.MINUTES))
  }

  private def systemFiles(): Long = {
    val root = new java.io.File(store.root)
    Option(root.listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("bucket=") && d.getName.contains("system"))
      .map(d => org.apache.commons.io.FileUtils.listFiles(d, Array("parquet"), true).size.toLong).sum
  }

  private def newApi() =
    new graft.engine.HttpApi(store, apiToken = "bench", env = Map(
      "RS_RATE_LIMIT_API" -> "1000000000req/h",
      "RS_RATE_LIMIT_INGRESS" -> "100GB/h",
      "RS_RATE_LIMIT_EGRESS" -> "100GB/h",
      "RS_IO_MAX_WRITERS_IN_FLIGHT" -> "2"))

  def setup(ctx: Ctx): Unit = {
    store = new graft.engine.BucketStore(ctx.spark, ctx.work.resolve("serve-store").toString)
    api = newApi()
    port = api.start()
    clients = Vector.tabulate(Clients)(c => new Client(c, ctx.seed, ctx))
    // one pass of the four-iteration mix per client: every request shape
    // is compiled and the file index is built before the phase
    inParallel(cl => (0 until WarmIters).foreach(_ => cl.iteration()))
    // The server runs its compaction and telemetry ticks 60 s after it
    // starts. Depending on how long set-up took, the first tick fell
    // inside the phase in some runs and not in others, which made the
    // runs disagree. A fresh server on the same store starts the clock
    // with the phase; the phase ends well before 60 s.
    api.stop()
    api = newApi()
    port = api.start()
  }

  def measure(ctx: Ctx): Unit = {
    val v0 = store.dataVersion
    val sys0 = systemFiles()
    inParallel { cl =>
      var n = 0
      while (n < Iters && !ctx.overDeadline) { cl.iteration(); n += 1 }
    }
    val mutations = store.dataVersion - v0
    val telemetry = systemFiles() - sys0
    val byType = ctx.samplesByType
    val mutationRequests = Seq("write", "update", "remove").map(t => byType.get(t).map(_.size).getOrElse(0)).sum
    ctx.figures.put("store.mutations", mutations.toDouble)
    ctx.figures.put("coalescer.requests_per_mutation",
      mutationRequests.toDouble / math.max(1L, mutations - telemetry))
    val payload = byType.get("write").map(_.size).getOrElse(0).toDouble * Records * PayloadBytes
    ctx.figures.put("user_bytes_written", payload)
    ctx.figures.put("ingest_mb_per_s",
      payload / (1024 * 1024) / ((System.nanoTime() - ctx.phaseStartNs) / 1e9))
    Inventory.record(ctx, store, liveBytes = clients.map(_.liveRecords).sum.toDouble * PayloadBytes)
  }

  def verify(ctx: Ctx): Unit = clients.foreach(_.verify())

  def close(): Unit = {
    pool.shutdownNow()
    if (api != null) api.stop()
    if (store != null) store.close()
  }
}
