package graftbench

import graft.filters.FilterDsl
import graft.harness.RunHarness
import graft.search.RamCorpus
import org.apache.spark.sql.DataFrame
import Stats.{Metric, median, mean}

/** serve_ram: hybrid top-K requests answered from the RAM serving tier.
  *
  * A closed loop with one client, shaped like `RunHarness.runMany`: each
  * request resolves its filter once (`FilterDsl.parseJson` →
  * `FilterDsl.compile` → |allowed| from `RamCorpus.countAllowed`, or a
  * Catalyst count when the filter is not label-only) and then calls
  * `Backend.search` of `pre_filter` and of `post_filter`, both obtained from
  * `RunHarness.getBackend` over the tier `VectorQueries.servingTier` pins.
  * Latency is the benchmark's wall clock around all of that.
  */
object ServeRam {
  val Shape: Gen.Shape = Gen.Shape(20000, 128, 300)
  val Backends: Seq[String] = Seq("pre_filter", "post_filter")
  val K = 10
  val Ladder: Seq[Int] = Seq(200, 500, 1000)
  val SetupReps = 3
  /** One block of the request mix per set-up: every filter kind once. */
  val WarmRequests = 11
  /** p95 with at least ten requests beyond it. */
  val MinOps = 200
  val TailPct = 95.0

  /** The resolved serving state of one set-up. */
  final case class State(emb: DataFrame, ram: Option[RamCorpus], total: Long,
                         backends: Map[String, RunHarness.Backend])

  /** One backend's answer and the wall time of its `search` call. */
  final case class Answer(ids: Seq[Long], stats: RunHarness.Stats, searchMs: Double)

  /** One timed request and what came back. */
  final case class Op(req: Gen.Req, wallMs: Double, parseMs: Double, compileMs: Double,
                      allowedMs: Double, allowed: Long, catalyst: Boolean,
                      answers: Map[String, Answer])

  def request(st: State, tr: Tracer, opId: String, req: Gen.Req, q: Array[Float]): Op =
    tr.span("request", opId) {
      val t0 = System.nanoTime()
      val spec = tr.span("filters.parse", opId)(FilterDsl.parseJson(req.filter))
      val t1 = System.nanoTime()
      val pred = tr.span("filters.compile", opId)(
        if (spec.isEmpty) None else Some(FilterDsl.compile(st.emb, spec)))
      val t2 = System.nanoTime()
      val local = st.ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _)))
      val allowed = tr.span("filters.allowed", opId)(pred.map { p =>
        local.map { case (rc, lp) => rc.countAllowed(lp) }.getOrElse(st.emb.where(p).count())
      }.getOrElse(st.total))
      val t3 = System.nanoTime()
      val answers = Backends.map { b =>
        val s0 = System.nanoTime()
        val (ids, stats) = tr.span(s"search.$b", opId)(
          st.backends(b).search(st.emb, q, spec, pred, K, allowed))
        b -> Answer(ids, stats, (System.nanoTime() - s0) / 1e6)
      }.toMap
      val t4 = System.nanoTime()
      Op(req, (t4 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        allowed, pred.nonEmpty && local.isEmpty, answers)
    }

  /** Open the corpus at `dir`, pin the RAM tier, resolve both backends. */
  def setUp(ctx: Ctx, dir: String): (State, Double, Double) = {
    val emb = graft.Tables.embeddings(ctx.spark, dir)
    val (ram, pinS) = Main.time(graft.queries.VectorQueries.servingTier(ctx.spark, dir))
    val total = ram.map(_.total).getOrElse(emb.count())
    val (backends, getS) = Main.time(Backends.map(b => b -> RunHarness.getBackend(
      b, emb, total, ladder = Ladder, corpusKey = Some(dir), knownDim = Some(Shape.dim),
      ram = ram)).toMap)
    (State(emb, ram, total, backends), pinS, getS)
  }

  /** Requests in stream order until the window has run `seconds` and holds
    * at least `MinOps`. */
  def window(ctx: Ctx, st: State, tr: Tracer, rows: Gen.Rows, stream: IndexedSeq[Gen.Req],
             tag: String): (Seq[Op], Double) = {
    val ops = Vector.newBuilder[Op]
    val t0 = System.nanoTime()
    val cap = math.max(3 * ctx.seconds, 60.0)
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < ctx.seconds || i < MinOps) && elapsed < cap) {
      val req = stream(i % stream.length)
      ops += request(st, tr, s"$tag$i", req, rows.vec(req.row))
      i += 1
    }
    (ops.result(), elapsed)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.seed
    val src = ctx.cached(s"serve-${Shape.tag}-s$seed") { d =>
      Gen.writeEmbeddings(spark, seed, Shape, ctx.cores, s"$d/embeddings.parquet")
    }
    val rows = Gen.rows(seed, Shape, 0, Shape.n)
    val off = new Tracer(spark, on = false)
    Main.phase(s"input ready: ${Shape.tag}")

    // set-up, several times on fresh copies: open + pin + resolve + warm-up
    val warmOps = Vector.newBuilder[Op]
    val setups = (1 to SetupReps).map { rep =>
      Main.releaseResident(spark)
      val dir = ctx.copyTables(src, s"serve-rep$rep")
      val ((st, pinS, getS), secs) = Main.time {
        val r = setUp(ctx, dir)
        Gen.stream(seed, 10 + rep, WarmRequests, Shape.n).foreach { req =>
          warmOps += request(r._1, off, "warm", req, rows.vec(req.row))
        }
        r
      }
      Main.phase(f"set-up $rep: $secs%.2f s")
      (st, pinS, getS, secs)
    }
    val st = setups.last._1
    val heap = Main.heapMb()
    val resident = Main.residentMb(spark)

    val stream = Gen.stream(seed, 1, 4000, Shape.n)
    val c0 = Codegen.compiles
    val (ops, secs) = window(ctx, st, off, rows, stream, "r")
    val compiles = Codegen.compiles - c0
    Main.phase(f"window: ${ops.length} requests in $secs%.1f s")

    val tr = new Tracer(spark, on = ctx.trace)
    val traced =
      if (!ctx.trace) Nil
      else {
        tr.start()
        val t = try window(ctx, st, tr, rows, stream, "t")._1 finally tr.stop()
        tr.writeSpans(ctx.spansPath)
        Main.phase(s"traced window: ${t.length} requests")
        t
      }

    val all = warmOps.result() ++ ops ++ traced
    val (problems, recall) = check(rows, all)
    Main.phase(s"checked ${all.length} requests")
    val walls = ops.map(_.wallMs)
    val e2e = Map(
      "setup_s" -> Metric(median(setups.map(_._4)), "s", SetupReps),
      "heap_mb" -> Metric(heap, "MB", 1),
      "p50_ms" -> Metric(median(walls), "ms", walls.length),
      "tail_ms" -> Metric(Stats.tail(walls, TailPct), "ms", walls.length, f"p$TailPct%.0f"),
      "ops_per_s" -> Metric(ops.length / secs, "1/s", ops.length))
    val layer =
      if (!ctx.trace) Map.empty[String, Metric]
      else layerMetrics(traced, tr, compiles, ops.length) ++ Map(
        "search.build.ram_pin_s" -> Metric(median(setups.map(_._2)), "s", SetupReps),
        "harness.get_backend_s" -> Metric(median(setups.map(_._3)), "s", SetupReps),
        "search.resident_mb" -> Metric(resident, "MB", 1),
        "post_filter.recall_at_10" -> Metric(recall, "ratio", all.length),
        "trace.overhead_ratio" -> Metric(median(traced.map(_.wallMs)) / median(walls), "ratio",
          traced.length))
    Result(all.length, problems.length, e2e, layer, problems)
  }

  def layerMetrics(traced: Seq[Op], tr: Tracer, compiles: Long, untraced: Int): Map[String, Metric] = {
    val n = traced.length
    val filterSpans = Seq("filters.parse", "filters.compile", "filters.allowed")
    val filters = Map(
      "filters.parse_ms" -> Metric(median(traced.map(_.parseMs)), "ms", n),
      "filters.compile_ms" -> Metric(median(traced.map(_.compileMs)), "ms", n),
      "filters.allowed_ms" -> Metric(median(traced.map(_.allowedMs)), "ms", n),
      "filters.allowed_p95_ms" -> Metric(Stats.tail(traced.map(_.allowedMs), TailPct), "ms", n),
      "filters.catalyst_share" -> Metric(mean(traced.map(o => if (o.catalyst) 1.0 else 0.0)), "ratio", n),
      "filters.jobs_per_query" -> Metric(filterSpans.map(tr.layer(_).jobs).sum.toDouble / n, "count", n))
    val perBackend = Backends.flatMap { b =>
      val as = traced.map(_.answers(b))
      val acc = tr.layer(s"search.$b")
      Seq(
        s"search.$b.wall_ms" -> Metric(median(as.map(_.searchMs)), "ms", n),
        s"search.$b.self_ms" -> Metric(median(as.map(_.stats.latencyMs)), "ms", n),
        s"search.$b.untimed_ms" -> Metric(median(as.map(a => a.searchMs - a.stats.latencyMs)), "ms", n),
        s"search.$b.scored_vectors" -> Metric(mean(as.map(_.stats.scoredVectors.toDouble)), "count", n),
        s"search.$b.useful_ratio" -> Metric(
          as.map(_.ids.length).sum.toDouble / math.max(1L, as.map(_.stats.scoredVectors).sum), "ratio", n),
        s"search.$b.jobs_per_query" -> Metric(acc.jobs.toDouble / n, "count", n),
        s"search.$b.tasks_per_query" -> Metric(acc.tasks.toDouble / n, "count", n),
        s"search.$b.task_cpu_ms" -> Metric(acc.cpuNs / 1e6 / n, "ms", n),
        s"search.$b.sched_wait_ms" -> Metric(
          if (acc.waitedJobs == 0) 0.0 else acc.waitMs.toDouble / acc.waitedJobs, "ms", acc.waitedJobs.toInt))
    }.toMap
    val post = traced.map(o => (o, o.answers("post_filter")))
    val ladder = Map(
      "search.codegen_compiles" -> Metric(compiles.toDouble, "count", untraced),
      "search.post_filter.retries" -> Metric(mean(post.map(_._2.stats.retries.toDouble)), "count", n),
      "search.post_filter.exhausted_share" -> Metric(
        mean(post.map { case (o, a) => if (a.ids.length < K && o.allowed >= K) 1.0 else 0.0 }), "ratio", n))
    val spans = Map(
      "self.request_ms" -> Metric(tr.selfMs("request"), "ms", n),
      "self.filters_ms" -> Metric(filterSpans.map(tr.selfMs).sum, "ms", n),
      "self.search_ms" -> Metric(Backends.map(b => tr.selfMs(s"search.$b")).sum, "ms", n))
    filters ++ perBackend ++ ladder ++ spans
  }

  /** Output checks against the benchmark's own truth: |allowed| exact;
    * pre_filter ids and order equal to the filtered brute-force top-K;
    * post_filter equal to the reference's ladder over the same ranking.
    * Returns the failures and post_filter's mean recall@K. */
  def check(rows: Gen.Rows, ops: Seq[Op]): (Seq[String], Double) = {
    import scala.collection.parallel.CollectionConverters._
    val truth = ops.map(_.req).distinct.par.map { req =>
      val raw = Truth.scores(rows, rows.vec(req.row))
      val ok = Truth.allowed(rows, req)
      val count = (0 until rows.n).count(ok)
      val pre = Truth.filtered(rows, raw, K, ok)
      val post = Truth.ladder(Truth.top(rows, raw, Ladder.max, _ => true, ok), Ladder, K)
      req -> (count, pre, post)
    }.seq.toMap
    val problems = ops.flatMap { o =>
      val (count, pre, (post, rung, retries)) = truth(o.req)
      val where = s"q${o.req.qid} ${o.req.filter}"
      val got = o.answers
      val bad = Seq(
        (o.allowed != count) -> s"$where: |allowed| ${o.allowed} != $count",
        got.get("pre_filter").exists(_.ids != pre) -> s"$where: pre_filter ids != $pre",
        got.get("post_filter").exists(_.ids != post) -> s"$where: post_filter ids != ladder $post",
        got.get("post_filter").exists(_.stats.retries != retries) ->
          s"$where: post_filter retries != $retries (rung $rung)")
      bad.collect { case (true, msg) => msg }.headOption
    }
    val recall = mean(ops.flatMap(o => o.answers.get("post_filter").map(a =>
      Truth.recall(a.ids, truth(o.req)._2, K))))
    (problems, recall)
  }
}
