package graftbench

import graft.harness.RunHarness

/** The benchmark's own tests; no Spark session needed.
  *
  *   python3 perfbench/test.py
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def assertThrows(body: => Any): Unit = {
    val threw = try { body; false } catch { case _: IllegalArgumentException => true }
    if (!threw) throw new AssertionError("expected IllegalArgumentException")
  }

  /** Rows with hand-picked 2-d vectors, labels and cities. */
  private def tiny(vecs: Seq[(Float, Float)], labels: Seq[Int]): Gen.Rows =
    new Gen.Rows(vecs.indices.map(_.toLong).toArray, vecs.flatMap(v => Seq(v._1, v._2)).toArray, 2,
      labels.toArray, Array.fill(vecs.length)("springfield"))

  def main(args: Array[String]): Unit = {
    val shape = Gen.Shape(500, 16, 7)

    test("generator is byte-identical for the same seed") {
      assertEq(Gen.digest(Gen.rows(5, shape, 0, shape.n)), Gen.digest(Gen.rows(5, shape, 0, shape.n)))
      assertEq(Gen.stream(5, 1, 50, shape.n), Gen.stream(5, 1, 50, shape.n))
      assertEq(Gen.documents(5, 40), Gen.documents(5, 40))
    }

    test("generator differs across seeds and rows are unit vectors") {
      if (Gen.digest(Gen.rows(5, shape, 0, shape.n)) == Gen.digest(Gen.rows(6, shape, 0, shape.n)))
        throw new AssertionError("seeds 5 and 6 gave the same corpus")
      val rs = Gen.rows(5, shape, 0, 20)
      (0 until rs.n).foreach { r =>
        val norm = math.sqrt(rs.vec(r).map(x => x.toDouble * x).sum)
        if (math.abs(norm - 1) > 1e-5) throw new AssertionError(s"row $r has norm $norm")
      }
    }

    test("a slice of rows equals the same rows of the whole corpus") {
      val all = Gen.rows(9, shape, 0, shape.n)
      val part = Gen.rows(9, shape, 100, 110)
      assertEq(part.vecs.toSeq, all.vecs.slice(100 * shape.dim, 110 * shape.dim).toSeq)
    }

    test("nearest-rank percentile") {
      val xs = (1 to 200).map(_.toDouble)
      assertEq(Stats.percentile(xs, 50), 100.0)
      assertEq(Stats.percentile(xs, 95), 190.0)
      assertEq(Stats.beyond(200, 95), 10)
    }

    test("a tail percentile needs ten samples beyond it") {
      assertEq(Stats.tail((1 to 200).map(_.toDouble), 95), 190.0)
      assertThrows(Stats.tail((1 to 199).map(_.toDouble), 95))
      assertEq(Stats.tail((1 to 40).map(_.toDouble), 75), 30.0)
      assertThrows(Stats.tail((1 to 39).map(_.toDouble), 75))
    }

    test("truth ranks by rounded score, ties by ascending id") {
      // rows 1 and 2 score 0.5000004 and 0.5 - both round to 0.5; id 1 wins the tie
      val rs = tiny(Seq((0.1f, 0f), (0.5000004f, 0f), (0.5f, 0f), (0.9f, 0f)), Seq(0, 1, 1, 2))
      val raw = Truth.scores(rs, Array(1f, 0f))
      assertEq(Truth.top(rs, raw, 3, _ => true, _ => true).map(_.id), Seq(3L, 1L, 2L))
      assertEq(Truth.filtered(rs, raw, 2, r => rs.labels(r) == 1), Seq(1L, 2L))
    }

    test("ladder stops at the first rung holding k passing rows") {
      val ranked = (0 until 10).map(i => Truth.Hit(i.toLong, 1.0 - i / 100.0, pass = i % 3 == 0))
      // passing ids 0, 3, 6, 9: rung 2 holds one, rung 4 holds two
      assertEq(Truth.ladder(ranked, Seq(2, 4, 10), 2), (Seq(0L, 3L), 4, 1))
      // k = 5 is never met: every rung is a retry and the last prefix answers
      assertEq(Truth.ladder(ranked, Seq(2, 4, 10), 5), (Seq(0L, 3L, 6L, 9L), 10, 3))
    }

    test("recall counts shared ids over k") {
      assertEq(Truth.recall(Seq(1L, 2L, 3L), Seq(3L, 2L, 9L), 3), 2.0 / 3)
      assertEq(Truth.recall(Nil, Seq(1L), 10), 0.0)
    }

    test("output check accepts the truth and flags a wrong answer") {
      val rows = Gen.rows(3, Gen.Shape(400, 8, 5), 0, 400)
      val req = Gen.Req(0, 17, """{"label": {"lt": 50}}""")
      val ok = Truth.allowed(rows, req)
      val raw = Truth.scores(rows, rows.vec(req.row))
      val pre = Truth.filtered(rows, raw, ServeRam.K, ok)
      val (post, _, retries) = Truth.ladder(
        Truth.top(rows, raw, ServeRam.Ladder.max, _ => true, ok), ServeRam.Ladder, ServeRam.K)
      val allowed = (0 until rows.n).count(ok).toLong
      def op(answers: (String, Seq[Long])*)(n: Long = allowed) = ServeRam.Op(req, 1, 0, 0, 0, n,
        catalyst = false, answers.map { case (b, ids) =>
          b -> ServeRam.Answer(ids, RunHarness.Stats(1, n, None, None, None, None, None, retries), 1)
        }.toMap)
      def failures(o: ServeRam.Op) = ServeRam.check(rows, Seq(o))._1.length
      assertEq(failures(op("pre_filter" -> pre, "post_filter" -> post)()), 0)
      assertEq(failures(op("pre_filter" -> pre.reverse, "post_filter" -> post)()), 1)
      assertEq(failures(op("pre_filter" -> pre, "post_filter" -> (post.tail :+ -1L))()), 1)
      assertEq(failures(op("pre_filter" -> pre, "post_filter" -> post)(allowed + 1)), 1)
    }

    test("filter semantics of the truth") {
      val rs = tiny(Seq((1f, 0f), (0f, 1f), (1f, 1f)), Seq(10, 50, 99))
      def sel(f: String) = (0 until 3).filter(Truth.allowed(rs, Gen.Req(0, 0, f)))
      assertEq(sel("""{"label": {"ge": 50}}"""), Seq(1, 2))
      assertEq(sel("""{"label": {"ne": 50}}"""), Seq(0, 2))
      assertEq(sel("""{"city": {"like": "FIELD"}}"""), Seq(0, 1, 2))
      assertEq(sel("{}"), Seq(0, 1, 2))
    }

    test("pipeline digest ignores row order") {
      import org.apache.spark.sql.Row
      val a = Seq(Row(1L, "x", 0.5), Row(2L, "y", Seq(1.0, 2.0)))
      assertEq(Pipeline.digest(a), Pipeline.digest(a.reverse))
      if (Pipeline.digest(a) == Pipeline.digest(a.take(1))) throw new AssertionError("digest ignores rows")
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
