package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import Stats.Metric

/** Everything a workload needs from the run: the session, the seed, the
  * timed-window length and the run's private directories. */
final case class Ctx(spark: SparkSession, root: String, seed: Long, seconds: Double,
                     trace: Boolean, cores: Int, workDir: String, cacheDir: String,
                     spansPath: String) {

  /** Generated input under the shared cache, keyed by `key` (which names
    * the seed and shape); `make` writes into the directory it is given. */
  def cached(key: String)(make: String => Unit): String = {
    val dir = Paths.get(cacheDir, key)
    if (!Files.exists(dir.resolve("_DONE"))) {
      val tmp = Paths.get(cacheDir, s"$key.tmp-${ProcessHandle.current().pid()}")
      Main.deleteTree(tmp)
      Files.createDirectories(tmp)
      make(tmp.toString)
      Files.createFile(tmp.resolve("_DONE"))
      Main.deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      evict(keep = 6)
    }
    dir.toString
  }

  /** Drop all but the `keep` newest cache entries (inputs are cheap to
    * regenerate; a long series of seeds must not fill the disk). */
  private def evict(keep: Int): Unit = {
    val entries = Option(new java.io.File(cacheDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && new java.io.File(f, "_DONE").exists())
      .sortBy(-_.lastModified())
    entries.drop(keep).foreach(f => Main.deleteTree(f.toPath))
  }

  /** A private copy of cached tables in the run directory: a new path and
    * fresh mtimes, so no in-process memo or on-disk index keyed by path
    * survives from an earlier set-up. */
  def copyTables(src: String, name: String): String = {
    val dst = Paths.get(workDir, name)
    Main.deleteTree(dst)
    val from = Paths.get(src)
    Files.walk(from).forEach { p =>
      val to = dst.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (p.getFileName.toString != "_DONE") Files.copy(p, to)
    }
    dst.toString
  }
}

/** What a workload hands back: operations attempted and failed (a failed
  * output check counts), the end-to-end metrics of its untraced window and
  * the per-layer metrics of its traced window. */
final case class Result(attempted: Int, failed: Int,
                        e2e: Map[String, Metric], layer: Map[String, Metric],
                        problems: Seq[String])

object Main {

  /** The end-to-end metrics every workload reports, in output order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "heap_mb", "p50_ms", "tail_ms", "ops_per_s")

  /** Every per-layer metric with its unit. A workload that does not run a
    * layer reports 0 for it: no work was done there. */
  val Layers: Seq[(String, String)] = {
    val search = for {
      b <- ServeRam.Backends
      (m, u) <- Seq("wall_ms" -> "ms", "self_ms" -> "ms", "untimed_ms" -> "ms",
        "scored_vectors" -> "count", "useful_ratio" -> "ratio", "jobs_per_query" -> "count",
        "tasks_per_query" -> "count", "task_cpu_ms" -> "ms", "sched_wait_ms" -> "ms")
    } yield s"search.$b.$m" -> u
    Seq(
      "filters.parse_ms" -> "ms", "filters.compile_ms" -> "ms",
      "filters.allowed_ms" -> "ms", "filters.allowed_p95_ms" -> "ms",
      "filters.catalyst_share" -> "ratio", "filters.jobs_per_query" -> "count") ++
    search ++ Seq(
      "search.codegen_compiles" -> "count",
      "search.post_filter.retries" -> "count", "search.post_filter.exhausted_share" -> "ratio",
      "search.build.ram_pin_s" -> "s", "search.resident_mb" -> "MB",
      "harness.get_backend_s" -> "s",
      "post_filter.recall_at_10" -> "ratio",
      "queries.pass_s" -> "s", "queries.build_s" -> "s", "queries.exec_s" -> "s",
      "queries.eager_jobs" -> "count", "queries.jobs" -> "count", "queries.stages" -> "count",
      "queries.tasks" -> "count", "queries.task_run_s" -> "s", "queries.task_cpu_s" -> "s",
      "queries.core_busy_ratio" -> "ratio", "queries.planning_ms" -> "ms",
      "queries.codegen_compiles" -> "count", "queries.codegen_compile_ms" -> "ms",
      "queries.shuffle_write_mb" -> "MB", "queries.spill_mb" -> "MB",
      "queries.family.dedup_s" -> "s", "queries.family.text_s" -> "s",
      "queries.family.corpus_s" -> "s",
      "self.request_ms" -> "ms", "self.filters_ms" -> "ms", "self.search_ms" -> "ms",
      "self.query_ms" -> "ms", "self.queries.build_ms" -> "ms", "self.queries.exec_ms" -> "ms",
      "trace.overhead_ratio" -> "ratio")
  }

  val Workloads: Map[String, Ctx => Result] = Map(
    "serve_ram" -> ServeRam.run,
    "pipeline_batch" -> Pipeline.run)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try all.forEach(f => Files.delete(f)) finally all.close()
    }

  /** JVM heap in use after a full collection, in MB. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Bytes Spark holds in persisted blocks, in MB. */
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  /** Unpersist every cached RDD and table: the next set-up starts empty. */
  def releaseResident(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val started = System.nanoTime()

  /** Progress on standard output: what the run is doing, seconds since start. */
  def phase(what: String): Unit =
    println(f"[graftbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $what")

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    if (i < 0 || i + 1 >= args.length) throw new IllegalArgumentException(s"missing $name")
    args(i + 1)
  }

  /** The program's own local session, with this run's private directories. */
  def session(cores: Int, workDir: String): SparkSession = {
    val s = graft.tools.Sessions.local(cores.toString)
      .appName("graftbench")
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `--workload <name>` runs one workload; `--workload record` rewrites
    * the pipeline expectations instead. */
  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val run = Workloads.get(workload)
    if (run.isEmpty && workload != "record")
      throw new IllegalArgumentException(
        s"unknown workload $workload; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val cores = arg(args, "--cores").toInt
    val workDir = arg(args, "--work")
    val spark = session(cores, workDir)
    val ctx = Ctx(spark, arg(args, "--root"), arg(args, "--seed").toLong,
      arg(args, "--seconds").toDouble, arg(args, "--trace") == "1", cores, workDir,
      arg(args, "--cache"), arg(args, "--spans"))
    try run match {
      case Some(r) => report(r(ctx), ctx.trace, arg(args, "--report"))
      case None => Pipeline.record(ctx)
    } finally spark.stop()
  }

  /** Print every metric by name, unit and sample count, write the full
    * report, and print the contract line last. */
  def report(res: Result, trace: Boolean, reportPath: String): Unit = {
    val layer = Layers.map { case (n, u) => n -> res.layer.getOrElse(n, Metric(0.0, u, 0)) }
    val e2e = EndToEnd.map(n => n -> res.e2e(n))
    res.problems.take(20).foreach(p => println(s"[graftbench] check failed: $p"))
    (e2e ++ (if (trace) layer else Nil)).foreach { case (n, m) =>
      val note = if (m.note.isEmpty) "" else s" ${m.note}"
      println(f"[graftbench] ${n}%-38s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}$note")
    }
    val w = new java.io.PrintWriter(reportPath, "UTF-8")
    try w.println(s"""{"attempted": ${res.attempted}, "failed": ${res.failed}, """ +
      s""""end_to_end": ${Stats.metricsJson(e2e)}, "per_layer": ${Stats.metricsJson(layer)}, """ +
      s""""samples": {${(e2e ++ layer).map { case (n, m) => s"${Stats.jsonStr(n)}: ${m.n}" }.mkString(", ")}}}""")
    finally w.close()
    val shown = if (trace) layer else e2e
    println(s"""{"correct": ${res.failed == 0}, "attempted": ${res.attempted}, """ +
      s""""failed": ${res.failed}, "metrics": ${Stats.metricsJson(shown)}}""")
  }
}
