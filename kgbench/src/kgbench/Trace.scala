package kgbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One Spark job's totals, summed from its tasks' metrics. `query` is
  * the SQL execution id the job ran for (-1 outside SQL). */
final class Job(val start: Long, val query: Long) {
  var end: Long = start
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  val taskMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer[Double]()

  /** Slowest task over the median task (1 ms floor on the median). */
  def skew: Double =
    if (taskMs.isEmpty) 0.0 else taskMs.max / math.max(1.0, Stats.median(taskMs.toSeq))
}

/** Records every job with its task metrics while installed. */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val query = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val j = new Job(e.time, query.map(_.toLong).getOrElse(-1L))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val i = e.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.schedMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
      j.recordsRead += m.inputMetrics.recordsRead
      j.bytesWritten += m.outputMetrics.bytesWritten
      j.taskMs += i.duration.toDouble
    }
  }

  /** Jobs that started and ended inside [fromMs, toMs]. */
  def within(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= fromMs && j.end <= toMs).toSeq
  }
}

/** Collects streaming progress events while installed. */
final class ProgressLog extends StreamingQueryListener {
  val events: mutable.ArrayBuffer[StreamingQueryProgress] = mutable.ArrayBuffer()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized { events += e.progress }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** A span around one call from the benchmark into a layer. */
final case class Span(run: String, id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def json: String =
    s"""{"run":"$run","id":$id,"parent":$parent,"name":"$name","start_ms":$startMs,"end_ms":$endMs}"""
}

/** Spans of one run, kept in memory; `on = false` records nothing. */
final class Tracer(val run: String, val on: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack = List(0)
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      next += 1
      val id = next
      val parent = stack.head
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(run, id, parent, name, t0, System.currentTimeMillis())
      }
    }

  def last(name: String): Span = spans.filter(_.name == name).last
}

/** A committed manifest with the time its file landed. */
final case class Commit(stage: String, rows: Long, wallMs: Long,
                        metrics: Map[String, Long], landedMs: Long) {
  /** The commit's own wall: a bucket commit shares one write job. */
  def windowMs: Long = metrics.getOrElse("job_wall_ms", wallMs)
}

/** The cost of one stage inside a traced call. */
final case class StageCost(name: String, wallMs: Long, jobs: Seq[Job]) {
  def wallS: Double = wallMs / 1000.0
  def taskS: Double = jobs.map(_.runMs).sum / 1000.0
  def gcS: Double = jobs.map(_.gcMs).sum / 1000.0
  def shuffleMb: Double = jobs.map(_.shuffleWriteBytes).sum / 1048576.0
  def spillMb: Double = jobs.map(_.spillBytes).sum / 1048576.0
  def recordsRead: Long = jobs.map(_.recordsRead).sum
  /** Skew of the stage's heaviest job. */
  def skew: Double = jobs.maxByOption(_.runMs).map(_.skew).getOrElse(0.0)
}

object Attribution {
  /** Splits a traced call [startMs, endMs] into stages. Each stage's
    * compute runs lazily inside its commit, so a job belongs to the
    * first stage whose last manifest landed at or after the job ended.
    * With `lead`, the jobs of the call's first SQL query (when it ends
    * before any manifest lands) form a leading stage of that name. A
    * stage's wall runs from its first job's
    * start to its last manifest; whatever the stage walls leave of the
    * call is returned as unattributed seconds. */
  def split(startMs: Long, endMs: Long, jobs: Seq[Job], commits: Seq[Commit],
            lead: Option[String]): (Seq[StageCost], Double) = {
    val bounds = commits.groupBy(_.stage).map { case (s, cs) => s -> cs.map(_.landedMs).max }
      .toSeq.sortBy(_._2)
    val firstBound = bounds.headOption.map(_._2).getOrElse(Long.MaxValue)
    val firstQuery = jobs.minByOption(_.start).map(_.query).filter(_ >= 0)
    val (leadJobs, rest) =
      if (lead.isEmpty) (Nil, jobs)
      else jobs.partition(j => firstQuery.contains(j.query) && j.end <= firstBound)
    val leadCost = lead.toSeq.map { n =>
      StageCost(n, if (leadJobs.isEmpty) 0L else leadJobs.map(_.end).max - leadJobs.map(_.start).min, leadJobs)
    }
    var prev = startMs
    val staged = bounds.map { case (stage, t) =>
      val js = rest.filter(j => j.end > prev && j.end <= t)
      val from = js.map(_.start).minOption.getOrElse(prev)
      prev = t
      StageCost(stage, t - from, js)
    }
    val all = leadCost ++ staged
    (all, ((endMs - startMs) - all.map(_.wallMs).sum) / 1000.0)
  }

  /** Commit overhead: commit walls minus the Spark job time inside them. */
  def commitOverheadS(jobs: Seq[Job], commits: Seq[Commit]): Double = {
    val windows = commits.map(c => (c.landedMs - c.windowMs, c.landedMs)).distinct
    val busy = windows.map { case (a, b) => union(jobs.filter(j => j.start >= a && j.end <= b)) }.sum
    (windows.map { case (a, b) => b - a }.sum - busy) / 1000.0
  }

  /** Total length of the union of the jobs' intervals, in ms. */
  private def union(js: Seq[Job]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    js.map(j => (j.start, j.end)).sorted.foreach { case (a, b) =>
      if (a > curB) { total += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + math.max(0L, curB - curA)
  }
}
