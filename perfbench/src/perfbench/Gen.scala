package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Every generator draws from its own stream,
  * derived from the workload seed and a fixed salt, so the same seed gives
  * the same inputs whatever else a run generates. */
object Gen {
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  def bytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    r.nextBytes(b)
    b
  }

  val Types: Vector[String] = Vector("alpha", "beta", "gamma", "delta")

  /** The reference benchmark's labels (`key`, `index`) plus a numeric
    * `value` in [0, 1000) and a categorical `type`. */
  def labels(r: SplittableRandom, index: Long): Map[String, String] = Map(
    "key" -> "value",
    "index" -> index.toString,
    "value" -> r.nextInt(1000).toString,
    "type" -> Types(r.nextInt(Types.size)))

  /** 2024-01-01T00:00:00Z in µs; every generated timestamp lies after it. */
  val T0: Long = 1704067200000000L

  def crc(b: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32
    c.update(b)
    c.getValue
  }

  // pipeline tables, with the distributions of tools/gen_sf1.py at sf0.1
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val Langs: Vector[String] = Vector("en", "de", "es", "fr", "zh")
  val EventTypes: Vector[String] =
    Vector("click", "view", "purchase", "signup", "error")

  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Emb(id: Long, vec: Array[Float], label: Int)
  final case class Event(id: Long, tsUs: Long, user: Long, kind: String,
      value: Double, props: String)

  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = rng(seed, "documents")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.0032) texts(r.nextInt(i)) // exact dup
        else Vector.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size)))
          .mkString(" ")
      val u = r.nextDouble()
      val lang = if (u < 0.4) "en" else Langs(1 + ((u - 0.4) / 0.15).toInt.min(3))
      Doc(i.toLong, texts(i), lang, s"src${i % 20}")
    }.toVector
  }

  def embeddings(seed: Long, n: Int, dim: Int = 64, labels: Int = 10): Vector[Emb] = {
    val r = rng(seed, "embeddings")
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val cents = Vector.fill(labels)(unit(Array.fill(dim)(r.nextGaussian())))
    (0 until n).map { i =>
      val y = r.nextInt(labels)
      // weak label pull, as in the generator the test data came from
      val v = unit(Array.tabulate(dim)(d => r.nextGaussian() + 0.56 * cents(y)(d)))
      Emb(i.toLong, v.map(_.toFloat), y)
    }.toVector
  }

  def events(seed: Long, n: Int): Vector[Event] = {
    val r = rng(seed, "events")
    val span = 30L * 86400L * 1000000L // January 2024
    val ts = Array.fill(n)(T0 + (r.nextDouble() * span).toLong).sorted
    (0 until n).map { i =>
      Event(i.toLong, ts(i), r.nextLong(n / 67 + 1), EventTypes(r.nextInt(5)),
        math.rint(-math.log(1 - r.nextDouble()) * 50.0 * 100) / 100,
        s"""{"k": ${r.nextInt(100)}}""")
    }.toVector
  }
}
