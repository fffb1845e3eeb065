package perfbench

import graft.engine.{BucketStore, QueryEngine, QuerySpec}
import java.time.{Instant, ZoneId}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Store size figures, from one walk of the store's directory tree. */
object Inventory {
  def record(ctx: Ctx, store: BucketStore, liveBytes: Double): Unit = {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(store.root)
    val files = org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala.toVector
    val parquet = files.filter(_.getName.endsWith(".parquet"))
    val partitions = parquet.map(_.getParentFile).distinct.count(_.getName.startsWith("dt="))
    ctx.figures.put("store.files", parquet.size.toDouble)
    ctx.figures.put("store.partitions", partitions.toDouble)
    ctx.figures.put("store.bytes_per_user_byte", files.map(_.length).sum / liveBytes)
  }
}

/** `store_bulk`: one in-process caller on `BucketStore` and `QueryEngine`,
  * no HTTP. Set-up writes a base bucket of 24 000 records of 1 KiB over 24
  * entries (`dev/<g>/<d>`, one every 4 minutes for about 2.8 days) and 80
  * records of 100 KiB over 4 entries (`cam/<k>`), about 31 MiB. Each
  * cycle then, in order: writes a new time slice (968 records) with
  * `Conflict.Error`; runs a fixed rotation of eleven `when` queries over
  * `store.table()`; reads every payload byte of the bucket; patches the
  * slice's labels; removes every second slice record with `$each_n: 2`;
  * exports the slice; and every third cycle compacts. Every result is
  * checked against the benchmark's own model of the bucket. */
object StoreBulk {
  val DevEntries: Vector[String] =
    for (g <- Vector(0, 1, 2); d <- Vector.range(0, 8)) yield s"dev/$g/$d"
  val CamEntries: Vector[String] = Vector.tabulate(4)(k => s"cam/$k")
  val BasePerDev = 1000
  val BasePerCam = 20
  val SlicePerDev = 40
  val SlicePerCam = 2
  val DevStepUs = 240L * 1000000L
  val CamStepUs = 11800L * 1000000L
  val SmallBytes = 1024
  val LargeBytes = 100 * 1024

  def devTs(i: Long): Long = Gen.T0 + i * DevStepUs
  def camTs(i: Long): Long = Gen.T0 + 30000000L + i * CamStepUs

  final case class GenRec(entry: String, ts: Long, labels: Map[String, String], payload: Array[Byte])

  /** Records of the base bucket (c = -1) or of slice c. */
  def records(seed: Long, c: Int): Vector[GenRec] = {
    val r = Gen.rng(seed, s"bulk-$c")
    val out = Vector.newBuilder[GenRec]
    def add(entry: String, ts: Long, index: Long, bytes: Int): Unit =
      out += GenRec(entry, ts, Gen.labels(r, index), Gen.bytes(r, bytes))
    if (c < 0) {
      for (e <- DevEntries; i <- 0 until BasePerDev) add(e, devTs(i), i, SmallBytes)
      for (e <- CamEntries; i <- 0 until BasePerCam) add(e, camTs(i), i, LargeBytes)
    } else {
      val first = BasePerDev + c.toLong * SlicePerDev
      for (e <- DevEntries; i <- first until first + SlicePerDev) add(e, devTs(i), i, SmallBytes)
      // inside the slice's window, between the dev records
      for (e <- CamEntries; j <- 0 until SlicePerCam)
        add(e, devTs(first + j * SlicePerDev / SlicePerCam) + 30000000L,
          BasePerCam + c.toLong * SlicePerCam + j, LargeBytes)
    }
    out.result()
  }
}

final class StoreBulk extends Workload {
  import StoreBulk._
  val WarmCycles = 1
  val Cycles = 4
  val Bucket = "bulk"

  private final class MRec(val labels: mutable.Map[String, String], val crc: Long, val size: Int)

  private var store: BucketStore = _
  private val model = mutable.Map.empty[String, mutable.TreeMap[Long, MRec]]
  private var cycle = 0
  private var seed = 0L
  private var userBytesWritten = 0L
  private var rowsReturned = 0L
  private var filesScanned = 0L
  private var dirtyTable = true

  private def sliceBounds(c: Int): (Long, Long) =
    (devTs(BasePerDev + c.toLong * SlicePerDev), devTs(BasePerDev + (c + 1L) * SlicePerDev))

  /** Records of the base bucket (c = -1) or of slice c, added to the
    * model, as a DataFrame. */
  private def generate(ctx: Ctx, c: Int): DataFrame = {
    val recs = StoreBulk.records(seed, c)
    for (g <- recs) {
      model.getOrElseUpdate(g.entry, mutable.TreeMap.empty)(g.ts) =
        new MRec(mutable.Map() ++= g.labels, Gen.crc(g.payload), g.payload.length)
      userBytesWritten += g.payload.length
    }
    val spark = ctx.spark
    spark.createDataFrame(spark.sparkContext.parallelize(recs.map(g =>
      Row(Bucket, g.entry, g.ts, g.labels, Map.empty[String, String],
        "application/octet-stream", graft.core.Records.State.Finished, g.payload)), ctx.cores),
      graft.core.Records.schema)
  }

  // ---- the query rotation: each tree with its plain-Scala predicate

  private final case class Rec(entry: String, ts: Long, labels: collection.Map[String, String]) {
    def int(k: String): Long = labels(k).toLong
  }
  private final case class Q(name: String, spec: QuerySpec, expect: Seq[Rec] => Seq[Rec],
      labelsOnly: Option[Set[String]] = None)

  private def filterQ(name: String, spec: QuerySpec)(p: Rec => Boolean) =
    Q(name, spec, _.filter(p))

  /** Records of one entry in time order, by a stateful rule. */
  private def perEntry(f: Vector[Rec] => Vector[Rec]): Seq[Rec] => Seq[Rec] =
    rs => rs.groupBy(_.entry).values.toSeq.flatMap(g => f(g.sortBy(_.ts).toVector))

  private def rotation: Seq[Q] = {
    val (lo, hi) = (Gen.T0, devTs(BasePerDev.toLong))
    val narrow = (devTs(250), devTs(265))
    val berlin = ZoneId.of("Europe/Berlin")
    def spec(when: String, entries: Seq[String] = Nil, range: (Long, Long) = (lo, hi)) =
      QuerySpec(start = Some(range._1), stop = Some(range._2), bucket = Some(Bucket),
        entries = Some(entries).filter(_.nonEmpty), when = Some(when))
    Seq(
      filterQ("cmp_wide", spec("""{"&value": {"$gte": 990}}"""))(_.int("value") >= 990),
      filterQ("in_narrow", spec("""{"$in": ["&type", "alpha", "gamma"]}""", range = narrow))(r =>
        Set("alpha", "gamma").contains(r.labels("type"))),
      filterQ("nin_glob", spec("""{"$nin": ["&type", "alpha", "beta", "gamma"]}""",
        entries = Seq("dev/1/*")))(_.labels("type") == "delta"),
      filterQ("nested", spec("""{"$or": [{"&value": {"$lt": 5}}, {"$and": [{"&type": {"$eq": "delta"}}, {"&index": {"$gte": 990}}]}]}"""))(r =>
        r.int("value") < 5 || (r.labels("type") == "delta" && r.int("index") >= 990)),
      filterQ("arith", spec("""{"$and": [{"$eq": [{"$rem": ["&index", 50]}, 7]}, {"$lt": [{"$add": ["&value", 100]}, 300]}]}"""))(r =>
        r.int("index") % 50 == 7 && r.int("value") + 100 < 300),
      filterQ("string", spec("""{"$and": [{"$starts_with": ["&type", "ga"]}, {"&value": {"$lt": 20}}]}"""))(r =>
        r.labels("type").startsWith("ga") && r.int("value") < 20),
      filterQ("hour_tz", spec("""{"$and": [{"$eq": [{"$hour": ["$timestamp", "Europe/Berlin"]}, 3]}, {"&value": {"$lt": 100}}]}"""))(r =>
        Instant.ofEpochSecond(r.ts / 1000000L).atZone(berlin).getHour == 3 && r.int("value") < 100),
      Q("each_n", spec("""{"&value": {"$gt": 300}, "$each_n": 3}""", entries = Seq("dev/0/1")),
        perEntry(_.filter(_.int("value") > 300).zipWithIndex.collect { case (r, i) if i % 3 == 2 => r })),
      Q("limit", spec("""{"&type": {"$eq": "beta"}, "$limit": 40}""", entries = Seq("dev/2/3")),
        perEntry(_.filter(_.labels("type") == "beta").take(40))),
      Q("ctx_before", spec("""{"#ctx_before": 2, "&value": {"$gte": 980}}""", entries = Seq("dev/1/4")),
        perEntry { rs =>
          val m = rs.map(_.int("value") >= 980)
          rs.indices.filter(i => (i to math.min(i + 2, rs.size - 1)).exists(m)).map(rs).toVector
        }),
      Q("select_labels", spec("""{"#select_labels": ["type"], "&value": {"$lt": 30}}""", entries = Seq("cam/*")),
        _.filter(_.int("value") < 30), Some(Set("type"))))
  }

  private def modelRecords(spec: QuerySpec): Seq[Rec] = {
    val (lo, hi) = (spec.start.get, spec.stop.get)
    // exact names, or `prefix/*` for one more path segment
    def selected(e: String) = spec.entries.forall(_.exists { p =>
      if (p.endsWith("/*")) e.startsWith(p.dropRight(1)) && !e.drop(p.length - 1).contains('/')
      else e == p
    })
    model.toSeq.filter(m => selected(m._1)).flatMap { case (e, recs) =>
      recs.range(lo, hi).map { case (ts, m) => Rec(e, ts, m.labels) }
    }
  }

  private def runQuery(ctx: Ctx, q: Q): Boolean = {
    val t = ctx.tracer
    t.span("cond", "parse")(graft.cond.Parser.parse(q.spec.when.get))
    val table = t.span("store", if (dirtyTable) "table_cold" else "table_warm")(store.table())
    dirtyTable = false
    val df = t.span("query", "plan") {
      val d = QueryEngine.query(table, q.spec).select("entry", "ts", "labels")
      d.queryExecution.executedPlan
      d
    }
    val rows = t.span("query", "exec")(df.collect())
    if (ctx.measuring) {
      rowsReturned += rows.length
      filesScanned += ScanFiles.count(df)
    }
    val got = rows.map(r => (r.getString(0), r.getLong(1))).toSet
    val want = q.expect(modelRecords(q.spec))
    val labelsOk = q.labelsOnly.forall(keys =>
      rows.forall(r => r.getMap[String, String](2).keySet.subsetOf(keys)))
    val ok = got == want.map(r => (r.entry, r.ts)).toSet && got.size == rows.length && labelsOk
    if (!ok) System.err.println(s"perfbench: query ${q.name}: got ${rows.length} rows, model ${want.size}")
    ok
  }

  private def mutated(): Unit = dirtyTable = true

  private def runCycle(ctx: Ctx): Unit = {
    val c = cycle
    cycle += 1
    val (lo, hi) = sliceBounds(c)
    val sliceSpec = QuerySpec(start = Some(lo), stop = Some(hi), bucket = Some(Bucket))
    val slice = generate(ctx, c)
    val sliceN = modelRecords(sliceSpec).size
    ctx.op("write") {
      ctx.tracer.span("store", "write")(store.write(slice, BucketStore.Conflict.Error))
      mutated(); true
    }
    for (q <- rotation) ctx.op("query")(runQuery(ctx, q))
    ctx.op("scan") {
      // every payload byte of the bucket, folded into a checksum
      val r = ctx.tracer.span("query", "scan") {
        val t = store.table()
        QueryEngine.query(t, QuerySpec(bucket = Some(Bucket)))
          .agg(count(lit(1)), sum(crc32(col("payload"))), sum(length(col("payload"))))
          .collect()(0)
      }
      val all = model.values.flatMap(_.values)
      val bytes = r.getLong(2)
      if (ctx.measuring) ctx.figures.merge("scan_bytes", bytes.toDouble, _ + _)
      r.getLong(0) == all.size && r.getLong(1) == all.map(_.crc).sum &&
        bytes == all.map(_.size.toLong).sum
    }
    ctx.op("update") {
      val n = ctx.tracer.span("store", "update")(
        store.updateLabels(sliceSpec, set = Map("key" -> s"upd$c")))
      mutated()
      for (recs <- model.values; m <- recs.range(lo, hi).values) m.labels("key") = s"upd$c"
      n == sliceN
    }
    ctx.op("remove") {
      val n = ctx.tracer.span("store", "remove")(
        store.removeQuery(sliceSpec.copy(when = Some("""{"$each_n": 2}"""))))
      mutated()
      // per entry, the second, fourth, ... record of the slice
      for (recs <- model.values) {
        val gone = recs.range(lo, hi).keys.toVector.zipWithIndex.collect { case (t, i) if i % 2 == 1 => t }
        gone.foreach(recs.remove)
      }
      n * 2 == sliceN
    }
    ctx.op("export") {
      val out = ctx.work.resolve(s"export-$c").toString
      val shards = ctx.tracer.span("store", "export")(store.exportShards(sliceSpec, out, nShards = 4))
      val rows = shards.map(_.rows).sum
      if (ctx.measuring) {
        val bytes = model.values.flatMap(_.range(lo, hi).values).map(_.size.toLong).sum
        ctx.figures.merge("export_bytes", bytes.toDouble, _ + _)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      rows == modelRecords(sliceSpec).size
    }
    if (c % 3 == 2) ctx.op("compact") {
      ctx.tracer.span("store", "compact")(store.compact())
      mutated(); true
    }
  }

  def setup(ctx: Ctx): Unit = {
    seed = ctx.seed
    store = new BucketStore(ctx.spark, ctx.work.resolve("bulk-store").toString)
    val base = generate(ctx, -1)
    ctx.log("base bucket generated")
    store.write(base, BucketStore.Conflict.Error)
    ctx.log("base bucket written")
    for (_ <- 0 until WarmCycles) runCycle(ctx)
  }

  def measure(ctx: Ctx): Unit = {
    val v0 = store.dataVersion
    userBytesWritten = 0L
    val t0 = System.nanoTime()
    var n = 0
    while (n < Cycles && !ctx.overDeadline) { runCycle(ctx); n += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    val byType = ctx.samplesByType
    def total(t: String) = byType.get(t).map(_.sum).getOrElse(0.0) / 1000
    val mib = 1024.0 * 1024.0
    ctx.figures.put("store.mutations", (store.dataVersion - v0).toDouble)
    ctx.figures.put("user_bytes_written", userBytesWritten.toDouble)
    ctx.figures.put("rows_returned", rowsReturned.toDouble)
    ctx.figures.put("query.files_scanned", filesScanned.toDouble)
    ctx.figures.put("ingest_mb_per_s", userBytesWritten / mib / s)
    ctx.figures.put("scan_mb_per_s", ctx.figures.getOrDefault("scan_bytes", 0.0) / mib / total("scan"))
    ctx.figures.put("export_mb_per_s", ctx.figures.getOrDefault("export_bytes", 0.0) / mib / total("export"))
    Inventory.record(ctx, store, model.values.flatMap(_.values).map(_.size.toDouble).sum)
  }

  def verify(ctx: Ctx): Unit = ()

  def close(): Unit = if (store != null) store.close()
}

/** Files the scans of an executed query read, from the scan nodes'
  * metrics (adaptive plans included). */
object ScanFiles extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def count(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
