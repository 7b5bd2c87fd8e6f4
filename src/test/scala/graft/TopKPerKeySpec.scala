package graft

import org.apache.spark.sql.graft.TopKPerKey
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Signaler
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Custom TopKPerKey operator: logical plan + strategy + physical bounded
  * per-key heaps (injected via GraftExtensions). Must agree with the
  * window row_number idiom while never sorting whole groups.
  */
class TopKPerKeySpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private def scored = {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    graft.search.QueryVectors.batch(3).map { case (qid, qv) =>
      graft.search.VectorSearch.withScore(emb, qv)
        .select(lit(qid).as("qid"), col("vec_id"), col("score"))
    }.reduce(_ unionAll _)
  }

  test("TopKPerKey == window row_number filter, any k") {
    Seq(1, 5, 17).foreach { k =>
      val got = TopKPerKey(scored, Seq(col("qid")), Seq(desc("score"), col("vec_id")), k)
        .select("qid", "vec_id", "score")
        .as[(Long, Long, Double)].collect().toSet
      val w = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
      val want = scored.withColumn("r", row_number().over(w)).where(col("r") <= k)
        .select("qid", "vec_id", "score")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, s"k=$k: got ${got.size} want ${want.size}")
    }
  }

  test("groups smaller than k pass through whole") {
    val df = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("g", "v")
    val got = TopKPerKey(df, Seq(col("g")), Seq(desc("v")), 5)
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 10.0), (1L, 20.0), (2L, 5.0)))
  }

  test("physical plan uses TopKPerKeyExec with no sort below it") {
    val df = TopKPerKey(scored, Seq(col("qid")), Seq(desc("score"), col("vec_id")), 5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey ["), p) // exec node prints without the Exec suffix
    val sortIdx = p.indexOf("SortExec")
    assert(sortIdx == -1, s"unexpected sort in plan:\n$p")
  }

  test("ascending order picks minima") {
    val df = Seq((1L, 3.0), (1L, 1.0), (1L, 2.0), (2L, 9.0)).toDF("g", "v")
    val got = TopKPerKey(df, Seq(col("g")), Seq(col("v")), 1)
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 9.0)))
  }

  test("partial pass runs below the exchange and bounds shuffled rows") {
    val df = TopKPerKey(scored, Seq(col("qid")), Seq(desc("score"), col("vec_id")), 5)
    val p = df.queryExecution.executedPlan.toString
    // two TopKPerKey nodes with the exchange between them — the
    // partial-aggregate shape (r22): map-side heaps cut what crosses the
    // shuffle to keys×k rows per map task
    val first = p.indexOf("TopKPerKey [")
    val second = p.indexOf("TopKPerKey [", first + 1)
    assert(first >= 0 && second > first, s"expected partial+final nodes:\n$p")
    val ex = p.indexOf("Exchange", first)
    assert(ex > first && ex < second, s"expected Exchange between the two passes:\n$p")
  }

  test("partial flush budget never changes results") {
    val prev = spark.conf.getOption(
      org.apache.spark.sql.graft.TopKPerKeyExec.FlushRowsConf)
    // 7 rows: several flushes per task — the early-emit path must still
    // agree with the window baseline exactly
    spark.conf.set(org.apache.spark.sql.graft.TopKPerKeyExec.FlushRowsConf, "7")
    try {
      val got = TopKPerKey(scored, Seq(col("qid")), Seq(desc("score"), col("vec_id")), 5)
        .select("qid", "vec_id", "score")
        .as[(Long, Long, Double)].collect().toSet
      val w = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
      val want = scored.withColumn("r", row_number().over(w)).where(col("r") <= 5)
        .select("qid", "vec_id", "score")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          org.apache.spark.sql.graft.TopKPerKeyExec.FlushRowsConf, v)
        case None => spark.conf.unset(
          org.apache.spark.sql.graft.TopKPerKeyExec.FlushRowsConf)
      }
    }
  }

  test("a non-positive partial flush budget fails on the driver, never spins") {
    val conf = org.apache.spark.sql.graft.TopKPerKeyExec.FlushRowsConf
    val prev = spark.conf.getOption(conf)
    spark.conf.set(conf, "0")
    // on timeout, cancel the (spinning) job and interrupt the test thread
    implicit val signaler: Signaler = (t: Thread) => {
      spark.sparkContext.cancelAllJobs(); t.interrupt()
    }
    try {
      failAfter(Span(60, Seconds)) {
        val e = intercept[Exception] {
          TopKPerKey(scored, Seq(col("qid")), Seq(desc("score"), col("vec_id")), 5).collect()
        }
        // planning may wrap the driver-side failure; the cause is the contract
        val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }
        assert(cause.exists(_.getMessage.contains(conf)), e)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
