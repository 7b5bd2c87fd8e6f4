package graftbench

import org.apache.spark.sql.SparkSession

/** Seeded input generator, plain JVM code.
  *
  * Every value is a pure function of (seed, row index), so the driver can
  * keep the arrays for the brute-force truth while the executors write the
  * same rows to parquet without shipping them through a closure. Vectors
  * are built element by element in a loop, never from per-dimension
  * Catalyst expressions (those exceed the 64 KB codegen limit at D=384 and
  * fall back to the interpreter).
  */
object Gen {

  val Cities: Array[String] = Array(
    "springfield", "riverton", "lakewood", "fairview", "greenville",
    "bristol", "clayton", "dayton", "ashland", "milton")

  /** Corpus shape: `n` rows of `dim` floats around `centres` Gaussian
    * centres; `label` uniform in 0..99, `city` uniform over [[Cities]]. */
  final case class Shape(n: Int, dim: Int, centres: Int) {
    def tag: String = s"n${n}d${dim}c$centres"
  }

  /** SplitMix64 finaliser: decorrelates (seed, stream, index) triples. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic stream for one (seed, stream, index) triple. Box-Muller
    * over nextDouble keeps the Gaussian draw independent of JDK defaults. */
  final class Rng(seed: Long, stream: Long, index: Long) {
    private val r = new java.util.SplittableRandom(mix(mix(seed * 31 + stream) + index))
    private var spare = Double.NaN
    def nextInt(bound: Int): Int = r.nextInt(bound)
    def nextDouble(): Double = r.nextDouble()
    def gaussian(): Double =
      if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
      else {
        val u1 = math.max(r.nextDouble(), 1e-300)
        val u2 = r.nextDouble()
        val rad = math.sqrt(-2.0 * math.log(u1))
        spare = rad * math.sin(2 * math.Pi * u2)
        rad * math.cos(2 * math.Pi * u2)
      }
  }

  private val CentreStream = 1L
  private val RowStream = 2L

  def centres(seed: Long, s: Shape): Array[Array[Float]] =
    Array.tabulate(s.centres) { c =>
      val g = new Rng(seed, CentreStream, c)
      unit(Array.fill(s.dim)(g.gaussian()))
    }

  private def unit(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  /** Row `i`: a centre plus isotropic noise of total norm ~0.8, unit-normed;
    * label and city drawn from the same row stream. */
  def row(seed: Long, s: Shape, cents: Array[Array[Float]], i: Long): (Long, Array[Float], Int, String) = {
    val g = new Rng(seed, RowStream, i)
    val c = cents(g.nextInt(s.centres))
    val sigma = 0.8 / math.sqrt(s.dim.toDouble)
    val v = Array.tabulate(s.dim)(j => c(j) + sigma * g.gaussian())
    (i, unit(v), g.nextInt(100), Cities(g.nextInt(Cities.length)))
  }

  /** The corpus rows [from, until) held flat in the driver for the truth. */
  final class Rows(val ids: Array[Long], val vecs: Array[Float], val dim: Int,
                   val labels: Array[Int], val cities: Array[String]) {
    def n: Int = ids.length
    def vec(r: Int): Array[Float] = java.util.Arrays.copyOfRange(vecs, r * dim, (r + 1) * dim)
  }

  def rows(seed: Long, s: Shape, from: Long, until: Long): Rows = {
    val cents = centres(seed, s)
    val n = (until - from).toInt
    val ids = new Array[Long](n)
    val vecs = new Array[Float](n * s.dim)
    val labels = new Array[Int](n)
    val cities = new Array[String](n)
    var r = 0
    while (r < n) {
      val (id, v, l, c) = row(seed, s, cents, from + r)
      ids(r) = id; System.arraycopy(v, 0, vecs, r * s.dim, s.dim); labels(r) = l; cities(r) = c
      r += 1
    }
    new Rows(ids, vecs, s.dim, labels, cities)
  }

  /** SHA-256 over every generated value, for the byte-identity test. */
  def digest(rs: Rows): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8 + 4 * rs.dim + 4)
    var r = 0
    while (r < rs.n) {
      bb.clear(); bb.putLong(rs.ids(r))
      var j = 0
      while (j < rs.dim) { bb.putFloat(rs.vecs(r * rs.dim + j)); j += 1 }
      bb.putInt(rs.labels(r))
      md.update(bb.array(), 0, bb.position()); md.update(rs.cities(r).getBytes("UTF-8"))
      r += 1
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write the corpus as parquet under `path`, in `parts` files. Executors
    * regenerate each row from the seed, so nothing large crosses a closure. */
  def writeEmbeddings(spark: SparkSession, seed: Long, s: Shape, parts: Int, path: String): Unit = {
    import spark.implicits._
    val cents = centres(seed, s)
    spark.range(0, s.n, 1, parts)
      .map(i => row(seed, s, cents, i))
      .toDF("vec_id", "embedding", "label", "city")
      .write.parquet(path)
  }

  // ---- query streams --------------------------------------------------------

  /** One request: the query is the corpus vector at row `row`; `filter` is
    * the reference's filter-DSL JSON. */
  final case class Req(qid: Int, row: Int, filter: String)

  /** Filter kinds and how many of each a block of 11 requests holds: one
    * `city like` (about 1 in 10; only the Catalyst path can evaluate it)
    * and two of each label filter or none. Fixed counts keep the mix, and
    * so the timings, independent of the seed. */
  val Mix: Seq[(String, Int)] = Seq(
    "city_like" -> 1, "none" -> 2, "label_ne" -> 2, "label_ge" -> 2, "label_lt" -> 2, "label_eq" -> 2)

  /** Filter JSON of one kind: `label ne` keeps 0.99 of rows, `ge 50` 0.5,
    * `lt 10` 0.1, `eq` 0.01; `city like` a 4-letter piece of a city name. */
  def filterOf(kind: String, g: Rng): String = kind match {
    case "city_like" =>
      val c = Cities(g.nextInt(Cities.length))
      val at = g.nextInt(c.length - 3)
      s"""{"city": {"like": "${c.substring(at, at + 4)}"}}"""
    case "none" => "{}"
    case "label_ne" => s"""{"label": {"ne": ${g.nextInt(100)}}}"""
    case "label_ge" => """{"label": {"ge": 50}}"""
    case "label_lt" => """{"label": {"lt": 10}}"""
    case "label_eq" => s"""{"label": {"eq": ${g.nextInt(100)}}}"""
  }

  /** `n` requests in blocks of 11 with the [[Mix]] counts, shuffled within
    * each block; query rows and filter values drawn from the seed. */
  def stream(seed: Long, stream: Long, n: Int, corpusRows: Int): IndexedSeq[Req] = {
    val block = Mix.flatMap { case (k, c) => Seq.fill(c)(k) }
    (0 until n).map { q =>
      val b = new Rng(seed, 100 + stream, q / block.length)
      val kinds = block.map(k => (b.nextDouble(), k)).sortBy(_._1).map(_._2)
      val g = new Rng(seed, 1000 + stream, q)
      val kind = kinds(q % block.length)
      Req(q, g.nextInt(corpusRows), filterOf(kind, g))
    }
  }

  // ---- documents for the pipeline workload ----------------------------------

  private val Words: Array[String] = (
    "data spark vector query index filter scan merge sort hash join table row column " +
    "batch stream window group key value model token corpus text shard block page " +
    "cache memory disk node task stage plan cost fast slow small big clean dirty " +
    "train test label score rank search match near far north south east west river " +
    "lake city market price order item store ship yard paper code line file").split(' ')
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  /** `n` documents: (doc_id, text, lang, source, n_chars). About one in six
    * is a light edit of an earlier document, so the dedup stages find pairs. */
  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val g = new Rng(seed, 7L, i)
      val text =
        if (i > 10 && g.nextInt(6) == 0) {
          val base = texts(g.nextInt(i)).split(' ')
          val at = g.nextInt(base.length)
          base.updated(at, Words(g.nextInt(Words.length))).mkString(" ")
        } else Array.fill(8 + g.nextInt(60))(Words(g.nextInt(Words.length))).mkString(" ")
      texts(i) = text
      (i.toLong, text, Langs(g.nextInt(Langs.length)), s"src${g.nextInt(4)}", text.length.toLong)
    }
  }

  def writeDocuments(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    import spark.implicits._
    documents(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
