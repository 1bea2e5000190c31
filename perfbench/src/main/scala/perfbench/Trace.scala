package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a call into a layer's public function, made by the
  * benchmark's single client thread. Times are wall-clock milliseconds
  * with a nanosecond-resolution fraction. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Span recorder. Off: `span` only runs its body. On: every span is kept
  * in memory (written out at exit), and its id rides the Spark local
  * property [[Tracer.SpanProp]] so jobs started inside it carry it. */
final class Tracer(spark: SparkSession, var enabled: Boolean) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Long, String, Double)]
  private var nextId = 0L
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble

  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack.push((id, name, nowMs))
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try body
      finally {
        val (_, _, start) = stack.pop()
        closed += Span(id, parent, name, start, nowMs)
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_._1.toString).orNull)
      }
    }

  def spans: Seq[Span] = closed.toSeq

  /** Duration minus the part of it covered by the span's children. */
  def selfMs(s: Span, children: Map[Long, Seq[Span]]): Double =
    s.ms - Intervals.covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = closed.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

object Intervals {
  /** Total length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of the union of `a` that the union of `b` also covers. */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double = {
    val clipped = for {
      (as, ae) <- merge(a)
      (bs, be) <- b
      s = math.max(as, bs)
      e = math.min(ae, be)
      if e > s
    } yield (s, e)
    covered(clipped)
  }

  private def merge(iv: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (out.isEmpty || s > out.last._2) out += ((s, e))
      else if (e > out.last._2) out(out.size - 1) = (out.last._1, e)
    }
    out.toSeq
  }
}

final case class JobRec(id: Int, span: Long, start: Double, var end: Double = Double.NaN,
    var stages: Int = 0)
final case class TaskRec(job: Int, launch: Double, finish: Double, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
    result: Long)
final case class ActionRec(end: Double, phases: Map[String, Long], planNodes: Int)

/** Spark-side layer counters, from the public listener interfaces:
  * scheduler (jobs, stages), executor (task metrics), shuffle, driver
  * results, and Catalyst (one [[ActionRec]] per action, with the
  * `QueryExecution.tracker` phase times and the optimized plan's size). */
final class SparkLayers(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  @volatile private var ended = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    ended += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))).foreach(j => j.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(stageJob.getOrDefault(e.stageId, -1), i.launchTime.toDouble,
        i.finishTime.toDouble, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
        sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val nodes = qe.optimizedPlan.collectWithSubqueries { case p => p }.size
    actions.add(ActionRec(System.currentTimeMillis().toDouble, phases, nodes))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until the asynchronous listener buses have delivered the
    * events of every job started so far (bounded wait). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    var last = -1
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = actions.size + ended
      if (ended >= jobs.size && n == last) stable += 1 else stable = 0
      last = n
    }
  }
}
