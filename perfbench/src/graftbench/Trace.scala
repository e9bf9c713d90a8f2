package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval: a layer boundary the benchmark crossed (`query`,
  * `chain.build`, `catalyst.plan`, `exec.action`, `storage.release`,
  * `render.sql`, `render.dbt`) or a Spark job (`spark.job`). Spans of one
  * query share `query`; `parent` is the id of the span that caused it.
  */
final case class Span(id: Long, parent: Long, name: String, query: String,
                      pass: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","query":"$query",""" +
      s""""pass":$pass,"start_ns":$startNs,"end_ns":$endNs}"""
}

/** Work counts of the Spark jobs started under one layer's spans. */
final class Counters {
  var jobs, stages, tasks, tasksFailed, inputRows = 0L
  var taskRunMs, taskCpuNs, shuffleReadB, shuffleWriteB, spillB, gcMs = 0L
}

/** In-memory span store plus the SparkListener that turns jobs into child
  * spans and task metrics into per-layer [[Counters]]. Spans stay in memory
  * until [[write]] at the end of the run. Job events arrive on Spark's
  * listener bus thread; read results only after [[drain]].
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  /** Local property carrying the open span's id into every job it starts. */
  val SpanProperty = "graftbench.span"

  val spans = ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[String, Counters]()
  private val opened = new ConcurrentHashMap[Long, (String, String, Int)]()
  private val jobParent = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageParent = new ConcurrentHashMap[Int, Long]()
  private var nextId = 0L
  // job events carry epoch milliseconds; spans use nanoTime
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def ns(epochMs: Long): Long = anchorNs + (epochMs - anchorMs) * 1000000L

  def layer(name: String): Counters = counters.computeIfAbsent(name, _ => new Counters)

  /** Run `body` as span `name`, a child of `parent`; returns the span. */
  def span[T](name: String, query: String, pass: Int, parent: Long)(body: Long => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    opened.put(id, (name, query, pass))
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = body(id)
      val s = Span(id, parent, name, query, pass, t0, System.nanoTime())
      synchronized { spans += s }
      (r, s)
    } catch { case e: Throwable =>
      synchronized { spans += Span(id, parent, name, query, pass, t0, System.nanoTime()) }
      throw e
    } finally sc.setLocalProperty(SpanProperty, prev)
  }

  private def owner(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).fold(0L)(_.toLong)

  private def layerOf(spanId: Long): Counters =
    layer(Option(opened.get(spanId)).fold("untraced")(_._1))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = owner(e.properties)
    jobParent.put(e.jobId, (parent, e.time))
    e.stageIds.foreach(s => stageParent.put(s, parent))
    layerOf(parent).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobParent.remove(e.jobId)).foreach { case (parent, startMs) =>
      val (_, query, pass) = Option(opened.get(parent)).getOrElse(("", "", 0))
      synchronized {
        nextId += 1
        spans += Span(nextId, parent, "spark.job", query, pass, ns(startMs), ns(e.time))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    layerOf(stageParent.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = layerOf(stageParent.getOrDefault(e.stageId, 0L))
    c.tasks += 1
    if (e.reason != Success) c.tasksFailed += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.inputRows += m.inputMetrics.recordsRead
    }
  }

  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(sc)

  /** Seconds of `s` that none of its child spans cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Self seconds per span name, summed over all recorded spans. */
  def selfByLayer(): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => selfSeconds(s, byParent.getOrElse(s.id, Seq.empty).toSeq)).sum
    }
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, spans.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
}
