package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `pipeline_ops`: one caller running a fixed set of `SparkEntry.queries`
  * operators over seeded documents, embeddings and events tables of sf0.1
  * size (5 000 documents, 2 000 64-dim embeddings, 100 000 events). The
  * operators stage their inputs in Spark's block cache on first use, so
  * the measured repetitions read them from memory. An operation is one
  * operator run, consumed as an order-independent hash of its result. */
final class PipelineOps extends Workload {
  val Reps = 2
  private var dir: String = _
  private var expected: Map[String, (Long, Long)] = Map.empty

  private def ops = {
    val all = graft.SparkEntry.queries
    Metrics.PipelineOps.map(n => n -> all(n))
  }

  /** (rows, sum of row hashes): equal for equal result multisets. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(df.columns.map(col).toSeq: _*)), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dir = ctx.work.resolve("pipeline-data").toString
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(s"$dir/$name.parquet")
    save("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      Gen.documents(ctx.seed, 5000).map(d =>
        Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))
    save("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
      Gen.embeddings(ctx.seed, 2000).map(e => Row(e.id, e.vec.toSeq, e.label)))
    save("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      Gen.events(ctx.seed, 100000).map(e => Row(e.id,
        java.time.LocalDateTime.ofEpochSecond(e.tsUs / 1000000L,
          (e.tsUs % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
        e.user, e.kind, e.value, e.props)))
    ctx.log("tables generated")
    // the warm-up pass stages the inputs and each operator's caches and
    // generates its code; its hashes are the expected results
    val t0 = System.nanoTime()
    expected = ops.map { case (n, f) => n -> digest(f(spark, dir)) }.toMap
    ctx.figures.put("staging.ms", (System.nanoTime() - t0) / 1e6)
  }

  def measure(ctx: Ctx): Unit =
    for (_ <- 1 to Reps; (n, f) <- ops if !ctx.overDeadline)
      ctx.op(n) {
        // the run's result hash must equal the warm-up's
        ctx.tracer.span("pipeline", n)(digest(f(ctx.spark, dir))) == expected(n)
      }

  def verify(ctx: Ctx): Unit = ()
  def close(): Unit = graft.pipeline.Staging.unstageAll()
}
