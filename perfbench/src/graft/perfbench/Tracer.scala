package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A span the benchmark recorded around one call into a layer. */
final case class Span(item: String, phase: String, startMs: Long, endMs: Long, sec: Double)

/** One finished Spark task, with the metrics the per-layer numbers use. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, diskSpill: Long,
    outputBytes: Long) {
  def sec: Double = (finishMs - launchMs) / 1e3
}

/** The benchmark's own listener: it keeps Spark's job, stage and task
  * events in memory, and [[attribute]] assigns them to the spans the
  * benchmark recorded, through the job group the benchmark set around each
  * call (`pb|<item>|<phase>`). A job started without that group (none is
  * expected) falls back to the span its start time lies in. */
final class Tracer extends SparkListener {
  private val jobGroup = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageTimes = TrieMap.empty[Int, (Long, Long)]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val started = new AtomicInteger
  private val ended = new AtomicInteger
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobGroup(e.jobId) = g.getOrElse("")
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    started.incrementAndGet(); lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet(); lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageTimes(i.stageId) = (s, c)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) tasks.add(TaskRec(e.stageId,
      e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
    lastEventNs = System.nanoTime()
  }

  /** Waits until every started job has ended and the listener bus has
    * been quiet for a moment, so the last item's tasks are all seen. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
           (ended.get < started.get || System.nanoTime() - lastEventNs < 200000000L))
      Thread.sleep(20)
  }

  def reset(): Unit = {
    jobGroup.clear(); jobStart.clear(); stageJob.clear(); stageTimes.clear()
    tasks.clear(); started.set(0); ended.set(0)
  }

  /** Jobs, stages and tasks of each span, keyed by (item, phase). */
  def attribute(spans: Seq[Span]): Map[(String, String), Attributed] = {
    val byKey = spans.map(s => (s.item, s.phase) -> s).toMap
    val jobSpan: Map[Int, (String, String)] = jobGroup.toMap.flatMap { case (job, g) =>
      val parts = g.split('|')
      val key =
        if (parts.length == 3 && parts(0) == "pb") Some((parts(1), parts(2)))
        else jobStart.get(job).flatMap(t =>
          spans.find(s => s.startMs <= t && t <= s.endMs).map(s => (s.item, s.phase)))
      key.filter(byKey.contains).map(job -> _)
    }
    val allTasks = tasks.asScala.toSeq
    byKey.map { case (key, _) =>
      val jobs = jobSpan.collect { case (j, k) if k == key => j }.toSet
      val stages = stageJob.collect { case (s, j) if jobs(j) => s }.toSet
      key -> Attributed(jobs.size, allTasks.filter(t => stages(t.stageId)),
        stageTimes.filter { case (s, _) => stages(s) }.toMap)
    }
  }

  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
}

/** What one span caused: its job count, its tasks, and the
  * (submission, completion) times of its stages. */
final case class Attributed(jobs: Int, tasks: Seq[TaskRec], stageTimes: Map[Int, (Long, Long)]) {
  def stageTasks: Map[Int, Seq[TaskRec]] = tasks.groupBy(_.stageId)
}

object Tracer {
  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Largest max/median task-time ratio over stages with two or more tasks. */
  def skew(stages: Iterable[Seq[TaskRec]]): Double =
    stages.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.sec).sorted
      val med = median(d)
      if (med > 0) d.last / med else 1.0
    }.foldLeft(1.0)(math.max)

  def median(sorted: Seq[Double]): Double =
    if (sorted.isEmpty) 0.0
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
}
