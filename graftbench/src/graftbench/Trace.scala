package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call: wall-clock millis (comparable with Spark's job event
  * times) for attribution, nanos for durations. `root` is the id of the
  * outermost span it ran under (itself for a root). */
final case class Span(id: Int, name: String, parent: Int, root: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records nested spans from the single client thread, in memory; the
  * workload writes them out at the end. Roots begun while [[tracing]] is
  * on are marked traced, so per-layer figures come only from iterations
  * that ran with the listener attached. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Int)] // (id, root)
  private var nextId = 0
  private val traced = mutable.Set.empty[Int]
  var tracing = false

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val (parent, root) = stack.headOption.map { case (p, r) => (p, r) }
      .getOrElse((-1, id))
    if (parent == -1 && tracing) traced += id
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    stack = (id, root) :: stack
    try f
    finally {
      stack = stack.tail
      done += Span(id, name, parent, root, ms0, System.currentTimeMillis(),
        ns0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
  def isTraced(s: Span): Boolean = traced.contains(s.root)
}

object Tracer {

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * that its child spans cover. */
  def selfSeconds(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - covered(s.startNs, s.endNs, kids)) / 1e9
  }
}

/** Task-metric sums. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
      m.shuffleReadMetrics.localBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    outputBytes += m.outputMetrics.bytesWritten
  }

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

final class JobRecord(val id: Int, val startMs: Long) {
  var endMs: Long = Long.MaxValue
  val stagesRun = mutable.Set.empty[Int]
  val c = new Counters
}

/** The harness's one SparkListener. It keys task metrics by job and
  * leaves attribution to [[JobListener.attribute]], which charges each
  * job to the innermost span whose interval contains the job's. Time
  * intervals, not job groups: the engine runs writes inside `Future`s,
  * whose threads do not inherit the caller's job-group properties. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** Tasks whose stage belongs to no job seen while attached. */
  val orphans = new Counters
  val total = new Counters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.jobId, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      total.addTask(e.taskMetrics)
      stageJob.get(e.stageId).flatMap(jobs.get) match {
        case Some(j) =>
          j.c.addTask(e.taskMetrics)
          j.stagesRun += e.stageId
        case None => orphans.addTask(e.taskMetrics)
      }
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  /** Deliver every queued event, then stop listening. */
  def detach(sc: SparkContext): Unit = {
    org.apache.spark.sql.graftshim.ListenerBusBridge.waitUntilEmpty(sc, 60000L)
    sc.removeSparkListener(this)
  }

  /** Charge each job to the innermost span containing it. Returns the
    * charged counters per span id, the counters of jobs no span contains,
    * and per span id the jobs that began inside it but ended outside. */
  def attribute(spans: Seq[Span])
  : (Map[Int, Counters], Counters, Map[Int, Int]) = synchronized {
    val depth = mutable.Map.empty[Int, Int]
    val byId = spans.map(s => s.id -> s).toMap
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else byId.get(s.parent).map(d).getOrElse(0) + 1)
    val charged = mutable.Map.empty[Int, Counters]
    val unattributed = new Counters
    val straddled = mutable.Map.empty[Int, Int].withDefaultValue(0)
    jobs.values.foreach { j =>
      val c = new Counters
      c += j.c
      c.jobs = 1
      c.stages = j.stagesRun.size
      val holders = spans.filter(s => s.startMs <= j.startMs && j.endMs <= s.endMs)
      if (holders.isEmpty) unattributed += c
      else charged.getOrElseUpdate(holders.maxBy(d).id, new Counters) += c
      spans.foreach { s =>
        if (s.startMs <= j.startMs && j.startMs <= s.endMs && j.endMs > s.endMs)
          straddled(s.id) += 1
      }
    }
    unattributed += orphans
    (charged.toMap, unattributed, straddled.toMap)
  }
}
