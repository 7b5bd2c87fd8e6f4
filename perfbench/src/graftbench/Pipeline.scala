package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import Stats.{Metric, median}

/** pipeline_batch: registered LLM-data-pipeline queries (`SparkEntry.queries`)
  * run one after another to the noop sink, over generated documents and a
  * small embeddings table.
  *
  * The tables come from a fixed data seed, so every query's output can be
  * checked against an expectation kept in `perfbench/expected`; the run's
  * seed fixes the order the queries run in. Each query is one operation:
  * its DataFrame is built (`build`, eager jobs included) and then written
  * to the noop sink (`exec`).
  */
object Pipeline {
  val DataSeed = 42L
  val Docs = 400
  val EmbShape: Gen.Shape = Gen.Shape(2000, 64, 50)
  /** A fixed subset of the cheaper queries from every family, so that the
    * set-up passes and the timed passes fit one run; the rest of the 72
    * `dedup_*` / `text_*` / `corpus_*` queries are left out. */
  val Queries: Seq[String] = Seq(
    "dedup_exact", "dedup_canonical", "text_tokens", "corpus_manifest", "corpus_shuffle")
  val SetupReps = 3
  /** Five passes give 25 queries: p60 then has ten beyond it. */
  val MinPasses = 5
  val TailPct = 60.0

  def tablesKey: String = s"pipeline-d$Docs-e${EmbShape.tag}-s$DataSeed"

  def writeTables(spark: SparkSession, dir: String): Unit = {
    Gen.writeDocuments(spark, DataSeed, Docs, s"$dir/documents.parquet")
    Gen.writeEmbeddings(spark, DataSeed, EmbShape, 1, s"$dir/embeddings.parquet")
  }

  def order(seed: Long): Seq[String] = {
    val g = new Gen.Rng(seed, 3L, 0L)
    Queries.map(q => (g.nextDouble(), q)).sortBy(_._1).map(_._2)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name, throw new NoSuchElementException(s"no query $name"))

  final case class Op(name: String, buildMs: Double, execMs: Double) {
    def wallMs: Double = buildMs + execMs
  }

  def runQuery(spark: SparkSession, tr: Tracer, name: String, dir: String, opId: String): Op =
    tr.span("query", opId) {
      val t0 = System.nanoTime()
      val df = tr.span("queries.build", opId)(query(name)(spark, dir))
      val t1 = System.nanoTime()
      tr.span("queries.exec", opId)(df.write.format("noop").mode("overwrite").save())
      val t2 = System.nanoTime()
      Op(name, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }

  // ---- output checks ----------------------------------------------------------

  /** Order-insensitive digest: each row rendered canonically (floating
    * values to 6 significant digits), the renderings sorted, then hashed. */
  def digest(rows: Seq[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.5e"
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case a: Array[_] => a.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** query → (rows, digest); digest None where the output depends on the
    * environment and only the row count is checked. */
  type Expected = Map[String, (Long, Option[String])]

  def expectedPath(root: String): String = s"$root/perfbench/expected/pipeline.json"

  def loadExpected(root: String): Expected = {
    val src = scala.io.Source.fromFile(expectedPath(root), "UTF-8")
    val text = try src.mkString finally src.close()
    import org.json4s._
    val JObject(fields) = org.json4s.jackson.JsonMethods.parse(text) \ "queries"
    fields.map { case (q, v) =>
      val JInt(rows) = v \ "rows"
      val digest = v \ "digest" match {
        case JString(d) => Some(d)
        case _ => None
      }
      q -> (rows.toLong, digest)
    }.toMap
  }

  def checkOutputs(spark: SparkSession, dir: String, names: Seq[String],
                   expected: Expected): Seq[String] =
    names.flatMap { q =>
      expected.get(q) match {
        case None => Some(s"$q: no expectation recorded")
        case Some((rows, want)) =>
          val got = query(q)(spark, dir).collect().toSeq
          if (got.length != rows) Some(s"$q: ${got.length} rows, expected $rows")
          else want.filter(_ != digest(got)).map(_ => s"$q: output digest differs")
      }
    }

  /** Record the expectations: outputs over two copies of the tables, one
    * read with all cores and one with a single task, so that outputs whose
    * bytes depend on the layout are recorded by row count only. */
  def record(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val src = ctx.cached(tablesKey)(writeTables(spark, _))
    val a = ctx.copyTables(src, "record-a")
    val b = ctx.copyTables(src, "record-b")
    val lines = Queries.map { q =>
      val ra = query(q)(spark, a).collect().toSeq
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val rb = try query(q)(spark, b).collect().toSeq
               finally spark.conf.set("spark.sql.shuffle.partitions", ctx.cores.toString)
      require(ra.length == rb.length, s"$q: row count depends on the environment")
      val (da, db) = (digest(ra), digest(rb))
      val d = if (da == db) Stats.jsonStr(da) else "null"
      s"""    ${Stats.jsonStr(q)}: {"rows": ${ra.length}, "digest": $d}"""
    }
    val f = new java.io.File(expectedPath(ctx.root))
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s"""{\n  "tables": ${Stats.jsonStr(tablesKey)},\n  "queries": {\n${lines.mkString(",\n")}\n  }\n}""")
    finally w.close()
  }

  // ---- the workload -------------------------------------------------------------

  def pass(spark: SparkSession, tr: Tracer, names: Seq[String], dir: String, tag: String): Seq[Op] =
    names.zipWithIndex.map { case (q, i) => runQuery(spark, tr, q, dir, s"$tag$i") }

  def window(ctx: Ctx, tr: Tracer, names: Seq[String], dir: String, minPasses: Int,
             tag: String): (Seq[Seq[Op]], Double) = {
    val t0 = System.nanoTime()
    val passes = Vector.newBuilder[Seq[Op]]
    var p = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (p < minPasses || elapsed < ctx.seconds) {
      passes += pass(ctx.spark, tr, names, dir, s"$tag$p.")
      p += 1
    }
    (passes.result(), elapsed)
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val expected = loadExpected(ctx.root)
    val src = ctx.cached(tablesKey)(writeTables(spark, _))
    val names = order(ctx.seed)
    val off = new Tracer(spark, on = false)
    Main.phase(s"input ready: $tablesKey")

    // set-up: a pass over fresh copies of the tables (artifacts built anew);
    // the first, cold, pass collects every output for the checks instead
    var problems = Seq.empty[String]
    val setups = (1 to SetupReps).map { rep =>
      Main.releaseResident(spark)
      val dir = ctx.copyTables(src, s"pipeline-rep$rep")
      val r = Main.time {
        if (rep == 1) problems = checkOutputs(spark, dir, names, expected)
        else pass(spark, off, names, dir, s"s$rep.")
        dir
      }
      Main.phase(f"set-up $rep: ${r._2}%.2f s")
      r
    }
    val dir = setups.last._1
    val heap = Main.heapMb()

    val (passes, secs) = window(ctx, off, names, dir, MinPasses, "r")
    val ops = passes.flatten
    Main.phase(f"window: ${passes.length} passes, ${ops.length} queries in $secs%.1f s")
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (q, os) =>
      Main.phase(f"  $q%-20s p50 ${median(os.map(_.wallMs))}%8.1f ms")
    }

    val walls = ops.map(_.wallMs)
    val e2e = Map(
      "setup_s" -> Metric(median(setups.map(_._2)), "s", SetupReps),
      "heap_mb" -> Metric(heap, "MB", 1),
      "p50_ms" -> Metric(median(walls), "ms", walls.length),
      "tail_ms" -> Metric(Stats.tail(walls, TailPct), "ms", walls.length, f"p$TailPct%.0f"),
      "ops_per_s" -> Metric(ops.length / secs, "1/s", ops.length))

    // traced: two more passes with listeners, job groups and spans
    val tr = new Tracer(spark, on = ctx.trace)
    val (layer, tracedOps) = if (!ctx.trace) (Map.empty[String, Metric], 0) else {
      tr.start()
      val (c1, n1) = (Codegen.compiles, Codegen.compileNs)
      val (tPasses, tSecs) = try window(ctx.copy(seconds = 0), tr, names, dir, 2, "t") finally tr.stop()
      val (tc, tns) = (Codegen.compiles - c1, Codegen.compileNs - n1)
      tr.writeSpans(ctx.spansPath)
      Main.phase(s"traced window: ${tPasses.length} passes")
      val t = tPasses.flatten
      (layerMetrics(ctx, tPasses, tSecs, tr, tc, tns) +
        ("trace.overhead_ratio" -> Metric(median(t.map(_.wallMs)) / median(walls), "ratio", t.length)),
        t.length)
    }
    val attempted = Queries.length * SetupReps + ops.length + tracedOps
    Result(attempted, problems.length, e2e, layer, problems)
  }

  def layerMetrics(ctx: Ctx, passes: Seq[Seq[Op]], secs: Double, tr: Tracer,
                   compiles: Long, compileNs: Long): Map[String, Metric] = {
    val np = passes.length
    val ops = passes.flatten
    val build = tr.layer("queries.build")
    val exec = tr.layer("queries.exec")
    val both = Seq(build, exec)
    def perPass(x: Double) = x / np
    def family(f: String) = perPass(ops.filter(_.name.startsWith(f + "_")).map(_.wallMs).sum / 1e3)
    val taskRunS = both.map(_.runMs).sum / 1e3
    Map(
      "queries.pass_s" -> Metric(perPass(ops.map(_.wallMs).sum / 1e3), "s", np),
      "queries.build_s" -> Metric(perPass(ops.map(_.buildMs).sum / 1e3), "s", np),
      "queries.exec_s" -> Metric(perPass(ops.map(_.execMs).sum / 1e3), "s", np),
      "queries.eager_jobs" -> Metric(perPass(build.jobs.toDouble), "count", np),
      "queries.jobs" -> Metric(perPass(both.map(_.jobs).sum.toDouble), "count", np),
      "queries.stages" -> Metric(perPass(both.map(_.stages).sum.toDouble), "count", np),
      "queries.tasks" -> Metric(perPass(both.map(_.tasks).sum.toDouble), "count", np),
      "queries.task_run_s" -> Metric(perPass(taskRunS), "s", np),
      "queries.task_cpu_s" -> Metric(perPass(both.map(_.cpuNs).sum / 1e9), "s", np),
      "queries.core_busy_ratio" -> Metric(taskRunS / (secs * ctx.cores), "ratio", np),
      "queries.planning_ms" -> Metric(perPass(both.map(_.planningMs).sum.toDouble), "ms", np),
      "queries.codegen_compiles" -> Metric(perPass(compiles.toDouble), "count", np),
      "queries.codegen_compile_ms" -> Metric(perPass(compileNs / 1e6), "ms", np),
      "queries.shuffle_write_mb" -> Metric(perPass(both.map(_.shuffleBytes).sum / 1048576.0), "MB", np),
      "queries.spill_mb" -> Metric(perPass(both.map(_.spillBytes).sum / 1048576.0), "MB", np),
      "queries.family.dedup_s" -> Metric(family("dedup"), "s", np),
      "queries.family.text_s" -> Metric(family("text"), "s", np),
      "queries.family.corpus_s" -> Metric(family("corpus"), "s", np),
      "self.query_ms" -> Metric(tr.selfMs("query"), "ms", ops.length),
      "self.queries.build_ms" -> Metric(tr.selfMs("queries.build"), "ms", ops.length),
      "self.queries.exec_ms" -> Metric(tr.selfMs("queries.exec"), "ms", ops.length))
  }
}
