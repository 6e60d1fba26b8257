package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Executor-side sums over the tasks of a set of jobs. */
final class TaskSums {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsOut = 0L
  var bytesOut = 0L
  val taskRunMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    cpuNs += m.executorCpuTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    recordsOut += m.outputMetrics.recordsWritten
    bytesOut += m.outputMetrics.bytesWritten
    taskRunMs += m.executorRunTime
  }

  def ++=(o: TaskSums): this.type = {
    tasks += o.tasks; cpuNs += o.cpuNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsOut += o.recordsOut; bytesOut += o.bytesOut
    taskRunMs ++= o.taskRunMs
    this
  }

  def cpuS: Double = cpuNs / 1e9
  def shuffleBytes: Long = shuffleRead + shuffleWrite

  /** Longest task over the median task (1 = no skew). */
  def skew: Double =
    if (taskRunMs.isEmpty) 1.0
    else {
      val s = taskRunMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

final case class Span(id: Int, name: String, parent: Int, startMs: Long, startNs: Long) {
  var endMs: Long = Long.MaxValue
  var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

final class JobRec(val id: Int, val startMs: Long, var site: String) {
  @volatile var endMs: Long = -1L
  @volatile var stages: Int = 0
  val sums = new TaskSums
  var span: Int = -1
}

/** In-memory spans around the benchmark's calls into the engine's public
  * functions, with the Spark work of each span summed from a listener.
  *
  * A job belongs to the deepest span open when it was submitted. Time,
  * not the job group, decides: the snapshot write pool and the Bloom-fold
  * helper are long-lived threads, and Spark copies local properties (the
  * job group among them) only when a thread is created, so their jobs
  * carry a stale group. The client is one thread, so open spans nest and
  * the time rule is exact. Each job also keeps its call-site file, which
  * splits a `CrawlLoop.run` span into the engine modules that ran it.
  *
  * When disabled, `span` runs its body and records nothing.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  val runId: String = java.util.UUID.randomUUID().toString

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val frameRx = """^graft\.(?!perfbench\.).*\(([A-Za-z0-9_$]+\.scala):\d+\)$""".r

  /** The engine file that submitted the job: the first `graft.` frame of
    * its final stage's call site, skipping the benchmark's own frames.
    */
  private def site(e: SparkListenerJobStart): String = {
    val lines = e.stageInfos.sortBy(-_.stageId).headOption.toSeq
      .flatMap(_.details.linesIterator.map(_.trim))
    lines.collectFirst { case frameRx(f) => f }
      .getOrElse("other:" + lines.headOption.getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("")))
  }

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val j = new JobRec(e.jobId, e.time, site(e))
      j.stages = e.stageInfos.size
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        Option(stageToJob.get(e.stageId)).foreach(_.sums.add(e.taskMetrics))
  })

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
          System.currentTimeMillis(), System.nanoTime())
        spans += s
        stack = s :: stack
        s
      }
      spark.sparkContext.setJobDescription(name)
      try f
      finally synchronized {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        spark.sparkContext.setJobDescription(stack.headOption.map(_.name).orNull)
        if (s.parent < 0) Log(f"span ${s.name} ${s.wallS}%.2f s")
      }
    }

  /** Drains the listener bus and assigns every job to its span. A job
    * whose call site names no engine file is a broadcast built on Spark's
    * exchange threads for a query that has not started yet: it takes the
    * file of the next job of its span that names one, its consumer.
    */
  def finish(): Unit = {
    org.apache.spark.perfbench.ListenerBusShim.drain(spark.sparkContext)
    val ordered = spans.sortBy(s => (s.startMs, s.id))
    jobs.values.asScala.foreach { j =>
      j.span = ordered.filter(s => s.startMs <= j.startMs && j.startMs < s.endMs)
        .lastOption.map(_.id).getOrElse(-1)
    }
    val byStart = jobs.values.asScala.toSeq.sortBy(j => (j.startMs, j.id))
    byStart.reverse.foldLeft(Map.empty[Int, String]) { (nextSite, j) =>
      if (j.site.startsWith("other")) { nextSite.get(j.span).foreach(j.site = _); nextSite }
      else nextSite.updated(j.span, j.site)
    }
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def descendants(ids: Set[Int]): Set[Int] = {
    var all = ids
    var grew = true
    while (grew) {
      val next = all ++ spans.filter(s => all.contains(s.parent)).map(_.id)
      grew = next.size > all.size
      all = next
    }
    all
  }

  /** Jobs of the given spans and of the spans nested inside them. */
  def jobsUnder(ss: Seq[Span]): Seq[JobRec] = {
    val ids = descendants(ss.map(_.id).toSet)
    jobs.values.asScala.filter(j => ids.contains(j.span)).toSeq.sortBy(_.id)
  }

  def sums(js: Seq[JobRec]): TaskSums = js.foldLeft(new TaskSums)(_ ++= _.sums)

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq

  /** Seconds of `s` during which at least one of `js` was running. */
  def busyS(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered / 1e3
  }
}

/** Times reads. In a traced run each read runs twice, untraced and traced,
  * in alternating order: the traced time is the one reported, and the
  * sums of the two sides give the tracing overhead on identical work.
  */
final class ReadTimer(tracer: Tracer) {
  private var untracedS = 0.0
  private var tracedS = 0.0
  private var n = 0

  def apply[A](span: String)(f: => A): (A, Double) =
    if (!tracer.enabled) Proc.timeS(f)
    else {
      n += 1
      def plain() = {
        tracer.enabled = false
        try Proc.timeS(f) finally tracer.enabled = true
      }
      def traced() = Proc.timeS(tracer.span(span)(f))
      val (t, u) =
        if (n % 2 == 0) { val u = plain(); (traced(), u) }
        else { val t = traced(); (t, plain()) }
      untracedS += u._2
      tracedS += t._2
      t
    }

  /** Traced over untraced time of the same reads. */
  def overheadRatio: Option[Double] = if (n > 0) Some(tracedS / untracedS) else None
}
