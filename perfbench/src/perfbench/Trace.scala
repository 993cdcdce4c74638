package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds, so spans recorded by
  * the benchmark (System.nanoTime based) and spans rebuilt from Spark
  * listener events (epoch milliseconds) share one clock.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** Span recorder for the benchmark's own code. Disabled, every wrapper
  * just runs its body: untraced runs pay no bookkeeping and no job-group
  * property. Enabled, a `call` span sets a job group on the calling thread
  * so Spark attributes the jobs the call launches to the span.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  import Tracer._
  private val ids = new AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def spans: Seq[Span] = buf.synchronized(buf.toList)
  def clear(): Unit = buf.synchronized(buf.clear())
  def add(s: Span): Unit = buf.synchronized(buf += s)
  def nextId(): Long = ids.incrementAndGet()

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevGroup = Option(sc.getLocalProperty(GroupKey))
      stack.set(id :: stack.get)
      if (grouped(kind)) sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = Clock.nowNs
      try body
      finally {
        add(Span(id, parent, kind, name, t0, Clock.nowNs))
        stack.set(stack.get.tail)
        if (grouped(kind)) prevGroup match {
          case Some(g) => sc.setLocalProperty(GroupKey, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  def call[T](name: String)(body: => T): T = span("call", name)(body)
  def check[T](name: String)(body: => T): T = span("check", name)(body)
}

object Tracer {
  /** The disabled tracer: it never touches a SparkContext. */
  val off = new Tracer(false, null)
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"
  /** Span kinds that label the Spark jobs launched inside them. */
  def grouped(kind: String): Boolean = kind == "call" || kind == "check"

  /** Span id encoded in a job group, if the group is one of ours. */
  def spanOfGroup(group: String): Option[Long] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.drop(GroupPrefix.length).toLongOption)
}

final case class JobRec(jobId: Int, group: Option[Long], start: Long, var end: Long,
                        stageIds: Seq[Int], sqlExecution: Option[Long])
final case class StageRec(stageId: Int, attempt: Int, start: Long, end: Long)
final case class TaskRec(stageId: Int, launch: Long, finish: Long, runNs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** Records jobs, stages, tasks and cached-block sizes. Events arrive on
  * Spark's asynchronous listener bus; [[quiesce]] waits until every
  * started job has ended and the bus has gone quiet.
  */
final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val blockSizes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var peakCached = 0L
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Tracer.spanOfGroup(p.getProperty(Tracer.GroupKey)))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(_.toLongOption)
    jobs(e.jobId) = JobRec(e.jobId, group, Clock.fromEpochMs(e.time), -1L, e.stageIds, exec)
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromEpochMs(e.time))
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(i.stageId, i.attemptNumber(), Clock.fromEpochMs(s), Clock.fromEpochMs(c))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks += TaskRec(e.stageId, Clock.fromEpochMs(e.taskInfo.launchTime),
        Clock.fromEpochMs(e.taskInfo.finishTime), m.executorRunTime * 1000000L,
        sr.remoteBytesRead + sr.localBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
    touch()
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cachedBytes += now - blockSizes.getOrElse(key, 0L)
      if (now == 0L) blockSizes.remove(key) else blockSizes(key) = now
      peakCached = math.max(peakCached, cachedBytes)
    }
    touch()
  }

  def resetPeakCache(): Unit = synchronized { peakCached = cachedBytes }
  def peakCachedBytes: Long = synchronized(peakCached)

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }

  /** Wait (at most `maxMs`) until all started jobs ended and no event
    * arrived for `quietMs`.
    */
  def quiesce(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val t0 = System.nanoTime()
    def openJobs = synchronized(jobs.values.count(_.end < 0))
    while ((openJobs > 0 || System.nanoTime() - lastEventNs < quietMs * 1000000L) &&
      System.nanoTime() - t0 < maxMs * 1000000L) Thread.sleep(20)
  }
}

/** Pure statistics over samples and spans (tested by StatsTest). */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Tail of a fixed sample count: the (beyond+1)-th largest of the last
    * `n` samples, i.e. the percentile 100 (n - beyond) / n with `beyond`
    * samples above it. With the same `n` and `beyond` every run reports
    * the same percentile. Returns (value, percentile, samples used); a
    * shorter series uses what it has, clamped to its smallest sample.
    */
  def tail(xs: Seq[Double], n: Int, beyond: Int): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.takeRight(n).sorted
    val m = s.length
    val i = math.max(0, m - 1 - beyond)
    (s(i), 100.0 * (i + 1) / m, m)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (children clipped to the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { p =>
      val covered = unionLength(kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end))))
      p.id -> (p.dur - covered)
    }.toMap
  }

  /** Stage id -> the first job that listed it. */
  def stageOwner(jobs: Seq[JobRec]): Map[Int, Int] =
    jobs.flatMap(j => j.stageIds.map(_ -> j.jobId))
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }

  /** Job and stage spans rebuilt from listener records. A job's parent is
    * the span named by its job group; a job without one of our groups
    * hangs under `orphanParent`. A stage hangs under the first job that
    * listed it.
    */
  def sparkSpans(jobs: Seq[JobRec], stages: Seq[StageRec], nextId: () => Long,
                 orphanParent: Long = 0L): Seq[Span] = {
    val jobSpan = jobs.filter(_.end >= 0).map { j =>
      j.jobId -> Span(nextId(), j.group.getOrElse(orphanParent), "job",
        s"job-${j.jobId}", j.start, j.end)
    }.toMap
    val owner = stageOwner(jobs)
    val stageSpans = stages.flatMap { st =>
      owner.get(st.stageId).flatMap(jobSpan.get).map { js =>
        Span(nextId(), js.id, "stage", s"stage-${st.stageId}.${st.attempt}", st.start, st.end)
      }
    }
    jobSpan.values.toSeq ++ stageSpans
  }

  /** Every span's root ancestor id (itself when it has no known parent). */
  def roots(spans: Seq[Span]): Map[Long, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(s: Span, guard: Int): Long =
      byId.get(s.parent) match {
        case Some(p) if guard > 0 => up(p, guard - 1)
        case _ => s.id
      }
    spans.map(s => s.id -> up(s, 64)).toMap
  }
}
