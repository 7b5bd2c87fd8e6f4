package graft

import graft.harness.RunHarness
import graft.search.{Bq, IndexStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the one persisted-index lifecycle: [[IndexStore]] (the
  * in-JVM memo + on-disk path) and `LocalArtifacts.publish` (the
  * publish-by-rename step under it).
  *  - a memo hit serves the same model and launches no Spark job;
  *  - row count, source mtime and SparkSession each invalidate an entry,
  *    so no caller is served a model built for another frame or session;
  *  - a rename loser loads a complete winner and refuses a partial one;
  *  - no copy of the publish step grows back in search/ or queries/.
  */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val dim = 16

  // every write moves the table's mtime strictly forward: a fast test can
  // regenerate within the filesystem's timestamp granularity, which would
  // defeat any mtime guard (the MtimeCacheSpec discipline)
  private var stamp = System.currentTimeMillis()

  /** A keyed corpus on disk: `n` seeded unit vectors as
    * `<dir>/embeddings.parquet`. */
  private def writeCorpus(dir: String, n: Int, seed: Int): Unit = {
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      val v = Array.fill(dim)(rng.nextGaussian().toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i, v.map(x => (x / norm).toFloat))
    }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    stamp += 10000L
    Option(new java.io.File(s"$dir/embeddings.parquet").listFiles())
      .getOrElse(Array.empty).foreach(_.setLastModified(stamp))
  }

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-index-store-$tag").toString

  /** Spark jobs launched while `body` runs (listener bus drained on both
    * sides, so no event is counted early or dropped). */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.GraftListenerBus.drain(sc)
      (a, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  private def codes(m: graft.search.BqModel): Set[(Long, Seq[Byte])] =
    m.codes.as[(Long, Array[Byte])].collect().map { case (i, c) => (i, c.toSeq) }.toSet

  test("two opens of the same frame build once; the second launches no Spark job") {
    val dir = freshDir("hit")
    writeCorpus(dir, 200, 1)
    val emb = Tables.embeddings(spark, dir)
    val first = Bq.open(emb, dir, 200)
    val (second, jobs) = jobsDuring(Bq.open(emb, dir, 200))
    assert(second eq first, "a memo hit must serve the resident model")
    assert(jobs == 0, s"a memo hit launched $jobs Spark job(s)")
    val published = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft-bq")
      .listFiles().map(_.getName).filter(_.startsWith(dir.replaceAll("[^A-Za-z0-9.]", "_")))
    assert(published.length == 1, published.mkString(", "))
  }

  test("a frame with a different row count under the same key gets its own model") {
    val dir = freshDir("rows")
    writeCorpus(dir, 200, 2)
    val emb = Tables.embeddings(spark, dir)
    val full = Bq.open(emb, dir, 200)
    val half = emb.where($"vec_id" < 100)
    val part = Bq.open(half, dir, 100)
    assert(part ne full)
    assert(part.codes.count() == 100 && full.codes.count() == 200)
    assert(Bq.open(emb, dir, 200) eq full, "the other row count's entry must survive")
  }

  test("a changed source mtime rebuilds the model") {
    val dir = freshDir("mtime")
    writeCorpus(dir, 200, 3)
    val before = Bq.open(Tables.embeddings(spark, dir), dir, 200)
    writeCorpus(dir, 200, 4) // same row count, new content
    val emb = Tables.embeddings(spark, dir)
    val after = Bq.open(emb, dir, 200)
    assert(after ne before)
    assert(codes(after) == codes(Bq.build(emb)), "the rebuilt index must encode the new corpus")
    assert(codes(after) != codes(before))
  }

  test("a caller in another SparkSession gets a model bound to that session") {
    val dir = freshDir("session")
    writeCorpus(dir, 200, 5)
    val inFirst = Bq.open(Tables.embeddings(spark, dir), dir, 200)
    val other = spark.newSession()
    val inOther = Bq.open(Tables.embeddings(other, dir), dir, 200)
    assert(inOther ne inFirst)
    assert(inOther.codes.sparkSession eq other)
    assert(inOther.corpus.sparkSession eq other)
    assert(Bq.open(Tables.embeddings(spark, dir), dir, 200).codes.sparkSession eq spark)
  }

  test("a losing rename loads a complete winner and refuses a partial directory") {
    val root = freshDir("race")
    writeCorpus(root, 120, 6)
    val emb = Tables.embeddings(spark, root)
    val small = emb.where($"vec_id" < 50)
    def leftovers = new java.io.File(root).listFiles().map(_.getName).filter(_.contains(".tmp-"))

    // a concurrent builder publishes a complete index while this one is
    // still writing its own copy: the rename loses, the copy is discarded
    // and the winner is what loads
    val won = s"$root/won"
    val model = IndexStore.openAt(won, "codes") { tmp =>
      Bq.write(Bq.build(small), won)
      Bq.write(Bq.build(emb), tmp)
    }(Bq.load(spark, _, emb))
    assert(model.codes.count() == 50, "the winner's 50-row index must load")
    assert(leftovers.isEmpty, leftovers.mkString(", "))

    // a stale partial directory at the target: the rename loses with no
    // complete index present, which must throw, not load garbage
    val partial = s"$root/partial"
    new java.io.File(s"$partial/codes").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$partial/codes/part-0"), "x")
    val e = intercept[IllegalStateException] {
      IndexStore.openAt(partial, "codes")(Bq.write(Bq.build(emb), _))(Bq.load(spark, _, emb))
    }
    assert(e.getMessage.contains(partial))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("ivfpq_res list sizes follow an in-JVM regeneration under the same key") {
    val dir = freshDir("res-sizes")
    // nprobe above nlist probes every list, so scored_vectors is the
    // corpus size the backend's list sizes describe
    def scanned(n: Int): Long = {
      val emb = Tables.embeddings(spark, dir)
      val b = RunHarness.getBackend("ivfpq_res", emb, n, nprobe = 4096, corpusKey = Some(dir))
      val q = emb.where($"vec_id" === 0L).select("embedding").as[Array[Float]].head()
      b.search(emb, q, None, 5, n.toLong)._2.scoredVectors
    }
    writeCorpus(dir, 300, 7)
    assert(scanned(300) == 300)
    writeCorpus(dir, 400, 8)
    assert(scanned(400) == 400, "list sizes must follow the regenerated corpus")
  }

  test("publish-by-rename has one home: none in search/ or queries/") {
    val banned = Seq(".renameTo(", "ProcessHandle.current")
    val hits = Seq("src/main/scala/graft/search", "src/main/scala/graft/queries").flatMap { d =>
      val files = Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".scala"))
      assert(files.nonEmpty, s"no sources under $d — the guard would pass vacuously")
      for {
        f <- files.toSeq
        (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
          .toSeq.zipWithIndex
        b <- banned if line.contains(b)
      } yield s"${f.getPath}:${i + 1}: $b"
    }
    assert(hits.isEmpty,
      s"hand-written publish step (use LocalArtifacts.publish):\n${hits.mkString("\n")}")
  }
}
