package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark's own counters, read on the driver around each call. Sequential
  * calls make the deltas belong to the call that ran between the reads. */
object Codegen {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** Work Spark did on behalf of one layer. */
final class LayerAcc {
  var jobs, stages, tasks, runMs, cpuNs, shuffleBytes, spillBytes = 0L
  var waitMs, waitedJobs, planningMs = 0L
}

/** The traced run's recorder.
  *
  * Spans are taken at the benchmark's own call boundaries (request, filter
  * resolution, backend search, query build and execution) and kept in
  * memory until the run ends. While a span is open its name is the job
  * group of every Spark job the call launches, so a [[SparkListener]] can
  * attribute jobs, stages and tasks to the layer that caused them; a
  * [[QueryExecutionListener]] adds the planning phases. When `on` is false
  * every method is a plain pass-through.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String)

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  @volatile private var currentLayer = "untraced"

  private val layers = mutable.Map.empty[String, LayerAcc]
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobFirstLaunch = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]

  private def acc(layer: String): LayerAcc = layers.getOrElseUpdate(layer, new LayerAcc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val layer = group.map(_.takeWhile(_ != '#')).getOrElse("untagged")
      jobLayer(e.jobId) = layer
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      acc(layer).jobs += 1
    }
    private def layerOfStage(stage: Int): String =
      stageJob.get(stage).flatMap(jobLayer.get).getOrElse("untagged")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      acc(layerOfStage(e.stageInfo.stageId)).stages += 1
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val t = e.taskInfo.launchTime
        jobFirstLaunch(j) = math.min(jobFirstLaunch.getOrElse(j, t), t)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = acc(layerOfStage(e.stageId))
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for (s <- jobStart.remove(e.jobId); l <- jobFirstLaunch.remove(e.jobId)) {
        val a = acc(jobLayer.getOrElse(e.jobId, "untagged"))
        a.waitMs += math.max(0L, l - s)
        a.waitedJobs += 1
      }
      jobLayer.remove(e.jobId)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val a = acc(currentLayer)
        a.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = if (on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Run `body` as span `name` of operation `op`. */
  def span[A](name: String, op: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(s"$name#$id", name, interruptOnCancel = false)
      currentLayer = name
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        drain()
        spans += Span(id, name, t0, t1, parent, op)
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname)) =>
            sc.setJobGroup(s"$pname#$pid", pname, interruptOnCancel = false)
            currentLayer = pname
          case None =>
            sc.clearJobGroup()
            currentLayer = "untraced"
        }
      }
    }

  def layer(name: String): LayerAcc = synchronized(layers.getOrElse(name, new LayerAcc))

  /** Mean self time per span of `name`: duration minus the time its child
    * spans cover. */
  def selfMs(name: String): Double = {
    val children = spans.groupBy(_.parent)
    val own = spans.filter(_.name == name).map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      (s.end - s.start - covered) / 1e6
    }
    Stats.mean(own.toSeq)
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": ${Stats.jsonStr(s.name)}, "start_ns": ${s.start}, """ +
        s""""end_ns": ${s.end}, "parent": ${s.parent}, "op": ${Stats.jsonStr(s.op)}}""")
    } finally w.close()
  }
}
