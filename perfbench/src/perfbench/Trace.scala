package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans and counts of a traced run.
  *
  * The benchmark opens spans around its calls into each layer (a batch
  * query's build, plan, exec and unpin; a micro-batch's phases). Before
  * each call it stores the open span's id in the local property
  * [[SpanKey]], so every Spark job that call launches names its parent
  * span exactly. Jobs, stages and tasks come from the [[SparkListener]]
  * this class is, registered only in traced runs. Everything stays in
  * memory until [[settle]] and is written out at the end. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  // all span times are epoch milliseconds, the listener's clock
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = offsetMs + System.nanoTime() / 1e6

  spark.sparkContext.addSparkListener(this)

  /** Runs `body` inside a new span; jobs it launches nest under it. */
  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = nextId.incrementAndGet()
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = nowMs
    try body(id)
    finally {
      spans.add(Span(id, parent, name, start, nowMs))
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  /** Records a span measured elsewhere (a micro-batch phase). */
  def record(name: String, parent: Int, start: Double, end: Double): Int = {
    val id = nextId.incrementAndGet()
    spans.add(Span(id, parent, name, start, end))
    id
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.add(Job(e.jobId, prop(SpanKey).map(_.toInt).getOrElse(0), e.time,
      e.stageIds, prop("sql.streaming.queryId"), prop("streaming.sql.batchId")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks.add(if (m == null) Task(e.stageId, i.launchTime, i.finishTime, i.failed)
    else Task(e.stageId, i.launchTime, i.finishTime, i.failed,
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      resultBytes = m.resultSize, inBytes = m.inputMetrics.bytesRead,
      inRows = m.inputMetrics.recordsRead,
      shWrite = m.shuffleWriteMetrics.bytesWritten,
      shRead = m.shuffleReadMetrics.totalBytesRead,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      peakMem = m.peakExecutionMemory))
  }

  /** Waits until the listener bus has delivered every event, then
    * freezes the trace into plain records. */
  def settle(): Trace.Frozen = {
    var last = -1
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val n = jobs.size + jobEnds.size + stages.size + tasks.size
      if (n == last && jobEnds.size >= jobs.size) stable += 1 else stable = 0
      last = n
    }
    spark.sparkContext.removeSparkListener(this)
    val ends = jobEnds.asScala.map { case (k, v) => k.intValue -> v.longValue }.toMap
    val jobList = jobs.asScala.toSeq.map(j => j.copy(end = ends.getOrElse(j.id, j.start)))
    Frozen(spans.asScala.toSeq, jobList, stages.asScala.toSeq, tasks.asScala.toSeq)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
    def ms: Double = end - start
  }
  final case class Job(id: Int, span: Int, start: Long, stageIds: Seq[Int],
      streamQuery: Option[String], batch: Option[String], end: Long = 0L)
  final case class Stage(id: Int, submit: Long, complete: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, failed: Boolean,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, resultBytes: Long = 0,
      inBytes: Long = 0, inRows: Long = 0, shWrite: Long = 0, shRead: Long = 0,
      fetchWaitMs: Long = 0, spill: Long = 0, peakMem: Long = 0)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  final case class Frozen(spans: Seq[Span], jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task]) {
    private val byParent = spans.groupBy(_.parent)
    private val jobOfStage = jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    private val jobsBySpan = jobs.groupBy(_.span)
    private val tasksByJob = tasks.groupBy(t => jobOfStage.getOrElse(t.stage, -1))

    /** The span and all spans below it. */
    def subtree(id: Int): Seq[Int] = id +: byParent.getOrElse(id, Nil).flatMap(s => subtree(s.id))

    def jobsUnder(id: Int): Seq[Job] = subtree(id).flatMap(jobsBySpan.getOrElse(_, Nil))

    def tasksOf(js: Seq[Job]): Seq[Task] = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))

    def stagesOf(js: Seq[Job]): Int = js.map(_.stageIds.size).sum

    /** Every span, plus one span per job and per stage under the span
      * that was open when the job started, for the written trace. */
    def allSpans: Seq[Map[String, Any]] = {
      val stageById = stages.map(s => s.id -> s).toMap
      val base = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))
      val jobSpans = jobs.filter(_.span != 0).flatMap { j =>
        val jid = s"job${j.id}"
        Map("id" -> jid, "parent" -> j.span, "name" -> "spark.job",
          "start_ms" -> j.start.toDouble, "end_ms" -> j.end.toDouble) +:
          j.stageIds.flatMap(stageById.get).map(s => Map("id" -> s"stage${s.id}",
            "parent" -> jid, "name" -> "spark.stage",
            "start_ms" -> s.submit.toDouble, "end_ms" -> s.complete.toDouble))
      }
      base ++ jobSpans
    }
  }
}
